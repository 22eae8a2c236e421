"""Streaming-path tests: the blockstream Python data source (batch + stream),
the combined historical∪live flow, checkpoint resume, sinks, panic abort."""

from __future__ import annotations

import functools
import glob
import json
import os
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F

from tests.conftest import MAX_HIST_HEIGHT, MIN_HIST_HEIGHT, TEMPLATES


def _drain(writer, timeout=120):
    """Start a stream, process everything currently available, stop."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_batch_source_synthetic(spark):
    from event_stream_spark.sources import blockstream

    blockstream.register(spark)
    df = (
        spark.read.format("blockstream")
        .option("backend", "synthetic")
        .option("from_height", "1")
        .option("to_height", "100")
        .load()
    )
    assert df.count() == 100
    from event_stream_spark.streaming import parse_source_rows
    from event_stream_spark.operators.flatten import assemble_stream_blocks
    from event_stream_spark.operators import explode_tx_events, explode_tx_errors

    sb = assemble_stream_blocks(
        parse_source_rows(df), historical=True, decode_tx_meta=False
    )
    assert sb.count() == 100
    te = explode_tx_events(sb)
    assert te.count() > 0
    errs = explode_tx_errors(sb)
    assert errs.count() > 0  # synthetic plants code!=0 rows


def test_batch_source_fixtures(spark, templates_dir):
    from event_stream_spark.sources import blockstream

    blockstream.register(spark)
    df = (
        spark.read.format("blockstream")
        .option("backend", "fixtures")
        .option("fixtures_dir", templates_dir)
        .option("from_height", str(MIN_HIST_HEIGHT))
        .option("to_height", str(MAX_HIST_HEIGHT))
        .load()
    )
    assert df.count() == 100


def test_plan_core_sized_ranges():
    """The height planner: [lo, hi] exactly once, contiguous and ascending,
    no empty range, at most two per core, sizes within one of each other,
    one range for a span of at most MIN_RANGE_HEIGHTS, none for lo > hi."""
    from event_stream_spark.sources.blockstream import MIN_RANGE_HEIGHTS, _plan

    for lo in (1, 7, 2_270_370):
        for n in (*range(0, 45), 99, 100, 101, 399, 400, 1_200, 1_201, 9_999):
            for cores in (1, 2, 3, 4, 8, 32):
                hi = lo + n - 1
                parts = _plan(lo, hi, cores)
                heights = [h for p in parts for h in range(p.lo, p.hi + 1)]
                assert heights == list(range(lo, hi + 1)), (lo, hi, cores)
                sizes = [p.hi - p.lo + 1 for p in parts]
                assert all(s > 0 for s in sizes)
                assert len(parts) <= 2 * cores
                assert not sizes or max(sizes) - min(sizes) <= 1
                if 0 < n <= MIN_RANGE_HEIGHTS:
                    assert len(parts) == 1
    assert _plan(10, 5, 3) == []
    assert _plan(10, 9, 3) == []


def test_backfill_tasks_follow_cores(spark):
    """A 1,200-height batch backfill runs at most two source tasks per core
    (not one per 20 heights) and still emits every height exactly once."""
    from event_stream_spark.streaming import historical_stream

    sc = spark.sparkContext
    group = "backfill-tasks"
    sc.setJobGroup(group, group)
    try:
        heights = [
            r["height"]
            for r in historical_stream(
                spark, 1, 1200, streaming=False, backend="synthetic"
            )
            .select("height")
            .collect()
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = sum(
        st.getStageInfo(sid).numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
    )
    assert 0 < tasks <= 2 * sc.defaultParallelism
    assert sorted(heights) == list(range(1, 1201))


def test_bad_range_rejected(spark):
    from event_stream_spark.sources import blockstream
    from event_stream_spark.streaming import historical_stream

    blockstream.register(spark)
    with pytest.raises(Exception, match="must be <="):
        (
            spark.read.format("blockstream")
            .option("from_height", "10")
            .option("to_height", "5")
            .load()
            .count()
        )
    with pytest.raises(ValueError, match="must be <="):
        historical_stream(spark, 10, 5, streaming=False)
    with pytest.raises(ValueError, match="batch blockstream scan is bounded"):
        historical_stream(spark, 10, None, streaming=False)


def test_node_reads_close_their_connections():
    """Every node a read builds is closed when the read ends: the batch
    fetch, both stream-reader calls and ``resolve_heights`` over HTTP leave
    no socket for the garbage collector to find open."""
    import gc
    import warnings

    import pyarrow as pa

    from event_stream_spark.sources.blockstream import (
        BlockBatchReader,
        BlockStreamReader,
        HeightRange,
        SyntheticNode,
        fetch_heights,
    )
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import resolve_heights

    server = RpcNodeServer(SyntheticNode())
    opts = {"backend": "http", "rpc_url": server.url}
    try:
        gc.collect()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always", ResourceWarning)
            ids = pa.RecordBatch.from_pydict({"id": pa.array([1, 2, 3], pa.int64())})
            fetched = list(fetch_heights(opts)(iter([ids])))
            batch = BlockBatchReader({**opts, "from_height": "1", "to_height": "3"})
            read = list(batch.read(HeightRange(1, 3)))
            stream = BlockStreamReader({**opts, "from_height": "1"})
            head = stream.latestOffset()["height"]
            streamed = list(stream.read(HeightRange(4, 6)))
            resolved = resolve_heights("latest", None, **opts)
            gc.collect()
    finally:
        server.close()
    assert [b.num_rows for b in fetched + read + streamed] == [3, 3, 3]
    assert head == resolved[0] == SyntheticNode().head()
    leaked = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert leaked == []


def test_finished_bounded_stream_stops_probing_the_head():
    """Once ``latestOffset`` reaches ``to`` it stays there without asking
    the node: five more calls make no request."""
    from event_stream_spark.sources.blockstream import BlockStreamReader, SyntheticNode
    from event_stream_spark.sources.rpcnode import RpcNodeServer

    server = RpcNodeServer(SyntheticNode())
    try:
        reader = BlockStreamReader(
            {"backend": "http", "rpc_url": server.url, "from_height": "1", "to_height": "5"}
        )
        assert reader.latestOffset() == {"height": 5}
        probed = server.requests
        assert [reader.latestOffset() for _ in range(5)] == [{"height": 5}] * 5
        assert server.requests == probed
    finally:
        server.close()


def _cosmos_tx(memo: str | None, denom: str, amount: str) -> str:
    """A base64 cosmos ``Tx``: ``body.memo`` (left out when None, as proto3
    leaves out an empty string) and ``auth_info.fee.amount[0]``."""
    import base64

    from event_stream_spark.sources.grpcwire import pb_msg, pb_str

    body = pb_str(2, memo) if memo is not None else b""
    coin = pb_str(1, denom) + pb_str(2, amount)
    tx = pb_msg(1, body) + pb_msg(2, pb_msg(2, pb_msg(1, coin)))
    return base64.b64encode(tx).decode()


def _cosmos_tx_node():
    """A SyntheticNode whose blocks carry real ``Tx`` payloads, one
    transfer event per tx."""
    import base64

    from event_stream_spark.sources.blockstream import SyntheticNode

    txs = {
        1: [
            _cosmos_tx("fee above 2^63", "uatom", str(2**64 + 7)),
            _cosmos_tx("39 digits", "uatom", "1" + "0" * 38),  # past decimal(38,0)
            _cosmos_tx("77 digits", "uatom", "9" * 77),  # within sdk.Int
        ],
        2: [
            _cosmos_tx("bad amount", "uosmo", "12abc"),
            _cosmos_tx(None, "ujuno", "250"),
            _cosmos_tx("underscore", "uosmo", "1_000"),
            _cosmos_tx("spaces", "uosmo", " 12 "),
            _cosmos_tx("plus sign", "uosmo", "+5"),
            _cosmos_tx("empty amount", "uosmo", ""),  # amount left off the wire
            _cosmos_tx("empty denom", "", "5"),  # denom left off the wire
        ],
        3: [],  # a block without txs
        4: [base64.b64encode(b"\xff\x01 not a Tx").decode(), _cosmos_tx("ok", "u", "1")],
    }

    class CosmosTxNode(SyntheticNode):
        def fetch(self, height):
            block, results = (json.loads(p) for p in super().fetch(height))
            block["result"]["block"]["data"]["txs"] = txs.get(height, [])
            results["result"]["txs_results"] = [
                {"code": 0, "log": "", "events": [{"type": "transfer", "attributes": []}]}
                for _ in txs.get(height, [])
            ]
            return json.dumps(block), json.dumps(results)

    return CosmosTxNode(), txs


def test_tx_meta_parity_real_cosmos_txs(spark, tmp_path):
    """Fee/denom/note decoded in the node fetch (batch backfill and live
    stream over HTTP) equal ``decode_tx_meta`` and the lake join's pandas
    UDF (``enrich_stream_blocks``) over the same rows.  Amounts parse as
    Java's ``BigInteger`` does (else 0, also for an empty amount), an empty
    denom reads "", and one past ``decimal(38,0)`` gives a null fee instead
    of failing the read."""
    from event_stream_spark.operators.flatten import (
        block_results_from_rpc,
        blocks_from_rpc,
        enrich_stream_blocks,
    )
    from event_stream_spark.operators.txmeta import decode_tx_meta
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import historical_stream, live_stream

    node, txs = _cosmos_tx_node()
    expected = {
        (h, i): decode_tx_meta(t) for h, block in txs.items() for i, t in enumerate(block)
    }
    assert expected == {
        (1, 0): (2**64 + 7, "uatom", "fee above 2^63"),
        (1, 1): (None, "uatom", "39 digits"),
        (1, 2): (None, "uatom", "77 digits"),
        (2, 0): (0, "uosmo", "bad amount"),
        (2, 1): (250, "ujuno", ""),
        (2, 2): (0, "uosmo", "underscore"),
        (2, 3): (0, "uosmo", "spaces"),
        (2, 4): (5, "uosmo", "plus sign"),
        (2, 5): (0, "uosmo", "empty amount"),
        (2, 6): (5, "", "empty denom"),
        (4, 0): (None, None, None),
        (4, 1): (1, "u", "ok"),
    }

    def meta(rows) -> dict:
        out = {}
        for r in rows:
            for i, e in enumerate(r["tx_events"]):
                fee = None if e["fee"] is None else int(e["fee"])
                out[(r["height"], i)] = (fee, e["denom"], e["note"])
        return out

    server = RpcNodeServer(node)
    opts = {"backend": "http", "rpc_url": server.url}
    try:
        batch = historical_stream(spark, 1, 4, streaming=False, **opts).collect()
        streamed: list = []
        _drain(
            live_stream(spark, from_height=1, to_height=4, **opts)
            .writeStream.foreachBatch(lambda b, _id: streamed.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
    finally:
        server.close()
    pairs = [node.fetch(h) for h in range(1, 5)]
    lake = enrich_stream_blocks(
        blocks_from_rpc(spark.createDataFrame([(b,) for b, _ in pairs], "payload string")),
        block_results_from_rpc(
            spark.createDataFrame([(r,) for _, r in pairs], "payload string")
        ),
    ).collect()
    for rows in (batch, streamed, lake):
        assert sorted(r["height"] for r in rows) == [1, 2, 3, 4]
        assert meta(rows) == expected


def test_streaming_source_and_resume(spark, tmp_path):
    """Kill + restart from checkpoint while the chain head grows: the resumed
    query emits exactly the new heights — no dupes, no gaps (§2.9)."""
    from event_stream_spark.sources import blockstream

    blockstream.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def reader(head: int):
        return (
            spark.readStream.format("blockstream")
            .option("backend", "synthetic")
            .option("from_height", "1")
            .option("to_height", str(head))  # simulated chain head
            .load()
        )

    _drain(
        reader(60).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    heights = sorted(r["height"] for r in spark.read.parquet(out).collect())
    assert heights == list(range(1, 61))

    # restart with the head advanced to 85 → exactly 61..85 appended once
    _drain(
        reader(85).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    heights = sorted(r["height"] for r in spark.read.parquet(out).collect())
    assert heights == list(range(1, 86))


def test_combined_historical_live(spark, tmp_path):
    """J3: backfill [1,40] ∪ live [41,60] → exactly 1..60, once each."""
    from event_stream_spark.streaming import (
        dedup_heights_stream,
        historical_stream,
        live_stream,
    )

    hist = historical_stream(spark, 1, 40, backend="synthetic", decode_tx_meta=False)
    live = live_stream(
        spark,
        from_height=35,  # overlaps the backfill → dedup must drop 35..40 dupes
        to_height=60,
        backend="synthetic",
        decode_tx_meta=False,
    )
    merged = dedup_heights_stream(hist.unionByName(live))
    out = str(tmp_path / "merged")
    ckpt = str(tmp_path / "ckpt2")
    _drain(
        merged.select("height", "historical")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    rows = spark.read.parquet(out)
    heights = sorted(r["height"] for r in rows.select("height").collect())
    assert heights == list(range(1, 61))  # no gaps, no dupes


def test_splayed_json_sink(spark, tmp_path):
    import hashlib

    from event_stream_spark.sinks import write_splayed_json_batch
    from event_stream_spark.streaming import historical_stream

    sb = historical_stream(
        spark, 1, 10, streaming=False, backend="synthetic", decode_tx_meta=False
    )
    out = str(tmp_path / "splay")
    write_splayed_json_batch(sb, out)
    files = glob.glob(f"{out}/*/*.json")
    assert len(files) == 10
    # exact reference path contract: sha256(height-str)[:4] / lpad(height,10,'0')
    expect = os.path.join(out, hashlib.sha256(b"7").hexdigest()[:4], "0000000007.json")
    assert os.path.exists(expect)
    with open(expect) as fh:
        payload = json.load(fh)
    assert payload["height"] == 7 and payload["historical"] is True

    # idempotence: second write leaves files untouched (mtime unchanged)
    before = {f: os.path.getmtime(f) for f in files}
    write_splayed_json_batch(sb, out)
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{out}/*/*.json")}
    assert before == after


def test_kafka_frame_contract(spark):
    from event_stream_spark.sinks import kafka_frame
    from event_stream_spark.streaming import historical_stream

    sb = historical_stream(
        spark, 1, 3, streaming=False, backend="synthetic", decode_tx_meta=False
    )
    rows = kafka_frame(sb).collect()
    keys = sorted(bytes(r["key"]).decode() for r in rows)
    assert keys == ["synthetic-1.1", "synthetic-1.2", "synthetic-1.3"]
    payload = json.loads(bytes(rows[0]["value"]).decode())
    assert {"height", "block", "block_events", "tx_events", "tx_errors", "historical"} <= set(
        payload
    )


def test_panic_aborts_stream(spark, tmp_path, templates_dir):
    """F8: a panic message mid-stream terminates the query with PanicAbort."""
    from event_stream_spark import decode
    from event_stream_spark.streaming import guarded_foreach_batch

    src_dir = tmp_path / "msgs"
    src_dir.mkdir()
    panic_fixture = os.path.join(templates_dir, "rpc", "responses", "panic.json")
    with open(panic_fixture) as fh:
        (src_dir / "m1.json").write_text(fh.read())

    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(str(src_dir))
        .withColumnRenamed("value", "payload")
    )
    decoded = decode.decode_messages(raw)
    q = (
        decoded.writeStream.foreachBatch(guarded_foreach_batch(lambda df, _id: None))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    with pytest.raises(Exception) as exc_info:
        q.processAllAvailable()
        q.awaitTermination(30)
    q.stop()
    assert "panic" in str(exc_info.value).lower()


def test_kafka_record_decode(spark):
    """S9: Kafka-shaped records decode with the fixed schema; garbage bytes
    classify as corrupt (the SerializationException path) instead of failing."""
    from event_stream_spark.sources.kafka import decode_kafka_records

    good = json.dumps(
        {
            "height": 7,
            "historical": True,
            "block_events": [],
            "tx_events": [],
            "tx_errors": [],
        }
    )
    rows = [
        (b"chain-1.7", good.encode()),
        (b"chain-1.8", b"\x00\x01 not json"),
        (b"chain-1.9", None),
    ]
    records = spark.createDataFrame(rows, "key binary, value binary")
    out = decode_kafka_records(records).orderBy("record_key").collect()
    assert [r["corrupt"] for r in out] == [False, True, False]
    assert out[0]["block"]["height"] == 7
    assert out[0]["block"]["historical"] is True
    kept = decode_kafka_records(records, drop_corrupt=True).collect()
    assert len(kept) == 2

    # round-trip: the K4 sink frame decodes back through the S9 source
    from event_stream_spark.sinks.kafka import kafka_frame

    sb = spark.createDataFrame(
        [(5, "chain-1", False)], "height long, chain_id string, historical boolean"
    )
    rt = decode_kafka_records(kafka_frame(sb)).collect()[0]
    assert rt["record_key"] == "chain-1.5"
    assert rt["block"]["height"] == 5 and not rt["corrupt"]


def test_kafka_fed_splay_roundtrip(spark, tmp_path):
    """K5 end-to-end: StreamBlock → kafka record frame → S9 decode → K3
    splayed files, identical to the direct K3 path on the same blocks
    (KafkaFileOutput composition)."""
    from event_stream_spark.schemas import STREAM_BLOCK
    from event_stream_spark.sinks.kafka import kafka_frame
    from event_stream_spark.sinks.splay import (
        write_kafka_fed_splay_batch,
        write_splayed_json_batch,
    )
    from event_stream_spark.streaming import historical_stream

    sb = historical_stream(
        spark, 1, 20, streaming=False, backend="synthetic", decode_tx_meta=False
    )
    stream_block_cols = [f.name for f in STREAM_BLOCK.fields]

    direct = str(tmp_path / "direct")
    write_splayed_json_batch(sb.select(*stream_block_cols), direct)
    fed = str(tmp_path / "fed")
    write_kafka_fed_splay_batch(kafka_frame(sb), fed)

    d_files = sorted(os.path.relpath(p, direct) for p in glob.glob(f"{direct}/*/*.json"))
    f_files = sorted(os.path.relpath(p, fed) for p in glob.glob(f"{fed}/*/*.json"))
    assert d_files == f_files and len(d_files) == 20
    for rel in d_files:
        a = json.load(open(os.path.join(direct, rel)))
        b = json.load(open(os.path.join(fed, rel)))
        assert a == b

    # corrupt record on the topic → dropped, not written (S9 drop_corrupt)
    corrupt_dir = str(tmp_path / "corrupt")
    records = spark.createDataFrame(
        [(b"k", b"not json at all")], "key binary, value binary"
    )
    write_kafka_fed_splay_batch(records, corrupt_dir)
    assert glob.glob(f"{corrupt_dir}/*/*.json") == []


def test_grpc_backend_streaming_read(spark):
    """S10 live tail over the real gRPC wire: the stream reader builds its
    node per read() instead of pickling one to the executors (a GrpcNode
    holds a lock and a socket), and offsets poll the served node's head."""
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.grpcwire import GrpcBlockServer
    from event_stream_spark.streaming import historical_stream

    server = GrpcBlockServer(SyntheticNode(head=25))
    try:
        stream = historical_stream(
            spark,
            1,
            None,
            backend="grpc",
            grpc_target=f"{server.host}:{server.port}",
            decode_tx_meta=False,
        )
        got = []
        _drain(
            stream.select("height").writeStream.foreachBatch(
                lambda b, _id: got.extend(r["height"] for r in b.collect())
            )
        )
    finally:
        server.close()
    assert sorted(got) == list(range(1, 26))


def test_make_node_builds_fixtures_synthetic_http_grpc_only(tmp_path):
    """The NetAdapter seam knows exactly the four built-in backends; any
    other name, a dotted ``module:Class`` path included, is refused."""
    from event_stream_spark.sources.blockstream import (
        FixtureNode,
        SyntheticNode,
        _make_node,
    )
    from event_stream_spark.sources.grpcwire import GrpcNode
    from event_stream_spark.sources.rpcnode import HttpNode

    built = {
        "fixtures": _make_node({"backend": "fixtures", "fixtures_dir": str(tmp_path)}),
        "synthetic": _make_node({"backend": "synthetic"}),
        "http": _make_node({"backend": "http", "rpc_url": "http://127.0.0.1:1"}),
        "grpc": _make_node({"backend": "grpc", "grpc_target": "127.0.0.1:1"}),
    }
    assert {k: type(v) for k, v in built.items()} == {
        "fixtures": FixtureNode,
        "synthetic": SyntheticNode,
        "http": HttpNode,
        "grpc": GrpcNode,
    }
    for backend in ("bogus", "event_stream_spark.sources.grpcwire:GrpcNode"):
        with pytest.raises(ValueError, match="unknown blockstream backend"):
            _make_node({"backend": backend})


def test_backoff_and_restarts():
    """X12: exponential backoff envelope; restart loop retries transient
    failures, re-raises fatal ones, and gives up after max_retries."""
    import random

    from event_stream_spark.streaming import retry

    rng = random.Random(42)
    for attempt in range(5):
        v = retry.backoff_millis(attempt, 1000.0, jitter=True, rng=rng)
        lo, hi = 1000.0 * 2**attempt * 0.75, 1000.0 * 2**attempt * 1.25
        assert lo <= v <= hi
    assert retry.backoff_millis(3, 1000.0, jitter=False) == 8000.0

    class FakeQuery:
        def __init__(self, fail_with=None):
            self.fail_with = fail_with

        def awaitTermination(self):
            if self.fail_with is not None:
                raise self.fail_with

    # transient failures retried (with backoff), then success
    calls, sleeps = [], []
    plan = [RuntimeError("SocketTimeoutException: read"), None]

    def start():
        calls.append(1)
        return FakeQuery(plan[len(calls) - 1])

    retry.run_with_restarts(start, base_millis=1.0, sleep=sleeps.append)
    assert len(calls) == 2 and len(sleeps) == 1

    # fatal error propagates immediately
    with pytest.raises(ValueError):
        retry.run_with_restarts(
            lambda: FakeQuery(ValueError("schema mismatch")),
            base_millis=1.0,
            sleep=lambda s: None,
        )

    # retryable but persistent → raises after max_retries
    with pytest.raises(RuntimeError):
        retry.run_with_restarts(
            lambda: FakeQuery(RuntimeError("ConnectException: refused")),
            max_retries=2,
            base_millis=1.0,
            sleep=lambda s: None,
        )


def test_sessionized_counts_stream(spark, tmp_path):
    """§2.9 extension: ``session_window`` sessions — batch and streamed runs
    agree, and session boundaries land where the 30-minute gap dictates."""
    import datetime as dt

    from event_stream_spark.streaming.windows import sessionized_counts

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),
        (1, base + dt.timedelta(minutes=70), 4.0),  # 60-min gap → new session
        (2, base + dt.timedelta(minutes=5), 8.0),
    ]
    batch_df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    key = lambda r: (r["user_id"], r["session_start"])  # noqa: E731
    val = lambda r: (r["n_events"], r["total_value"])  # noqa: E731
    batch = {key(r): val(r) for r in sessionized_counts(batch_df).collect()}
    assert batch == {
        (1, base): (2, 3.0),
        (1, base + dt.timedelta(minutes=70)): (1, 4.0),
        (2, base + dt.timedelta(minutes=5)): (1, 8.0),
    }

    # streaming leg: session windows stream in append mode only — sessions
    # emit once the watermark passes their end, so a far-future sentinel row
    # drives the watermark past every real session (and never finalizes its
    # own, keeping it out of the sink)
    src = str(tmp_path / "sess_src")
    batch_df.coalesce(1).write.parquet(src)
    sentinel = spark.createDataFrame(
        [(999, base + dt.timedelta(days=2), 0.0)], batch_df.schema
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    agg = sessionized_counts(stream, watermark="0 seconds")
    _drain(
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append")
    )
    streamed = {
        key(r): val(r)
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    assert streamed == batch


def test_windowed_event_counts_stream(spark, tmp_path):
    """§2.9 extension: event-time tumbling window + watermark over the live
    stream; batch run over the same data agrees with the streamed result."""
    from event_stream_spark.streaming import historical_stream
    from event_stream_spark.streaming.windows import windowed_event_counts

    # streaming leg (bounded stream → complete drain)
    sb_stream = historical_stream(
        spark, 1, 40, backend="synthetic", decode_tx_meta=False
    )
    agg = windowed_event_counts(sb_stream, window="1 minute", watermark="1 hour")
    out = str(tmp_path / "win")
    _drain(
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .outputMode("complete")
    )
    streamed = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    # batch leg on the same heights
    sb_batch = historical_stream(
        spark, 1, 40, streaming=False, backend="synthetic", decode_tx_meta=False
    )
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in windowed_event_counts(sb_batch, window="1 minute").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_grouped_agg_udaf(spark):
    """§2.10: GROUPED_AGG pandas UDF — exact p90 vs a Python reference."""
    import numpy as np

    from event_stream_spark.functions.udaf import tx_fee_p90_by_type

    rows = [("transfer", float(f)) for f in range(1, 101)] + [
        ("mint", 5.0),
        ("mint", None),
    ]
    df = spark.createDataFrame(rows, "event_type string, fee double")
    got = {r["event_type"]: r["fee_p90"] for r in tx_fee_p90_by_type(df).collect()}
    assert got["mint"] == 5.0
    assert abs(got["transfer"] - np.percentile(np.arange(1.0, 101.0), 90)) < 1e-9


def test_cli_batch_splay(spark, tmp_path):
    """§3.3 CLI analog: batch run writes the splayed-JSON contract."""
    from event_stream_spark.cli import build_parser, build_pipeline
    from event_stream_spark.sinks.splay import write_splayed_json_batch

    args = build_parser().parse_args(
        [
            "--from-height", "1", "--to-height", "20", "--batch",
            "--backend", "synthetic", "--no-tx-meta", "--skip-empty-blocks",
        ]
    )
    df = build_pipeline(spark, args)
    out = str(tmp_path / "splay")
    write_splayed_json_batch(df, out)
    files = glob.glob(f"{out}/*/*.json")
    # synthetic backend: height % 3 == 1 blocks carry txs → 7 of 20 non-empty
    assert len(files) == 7
    # contract: dir = first-4 sha256 hex of height, name = lpad-10 height
    sample = json.load(open(files[0]))
    assert sample["historical"] is True
    # idempotence: second run rewrites nothing (mtimes unchanged)
    mtimes = {f: os.path.getmtime(f) for f in files}
    write_splayed_json_batch(df, out)
    assert {f: os.path.getmtime(f) for f in files} == mtimes


def test_cli_batch_reaches_node(spark, tmp_path):
    """The CLI reaches a real node: ``--rpc-url`` (or the ``rpc_url`` config
    key) with ``--backend http``, and ``--grpc-target`` with ``--backend
    grpc``, scan the served chain and write exactly one splay file per
    height."""
    import hashlib

    from event_stream_spark.cli import run
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.grpcwire import GrpcBlockServer
    from event_stream_spark.sources.rpcnode import RpcNodeServer

    def scan(out, lo, hi, *flags):
        run(["--from-height", str(lo), "--to-height", str(hi), "--batch",
             "--no-tx-meta", "--splay-dir", out, *flags])
        files = set(glob.glob(f"{out}/*/*.json"))
        assert files == {
            os.path.join(out, hashlib.sha256(str(h).encode()).hexdigest()[:4],
                         f"{h:010d}.json")
            for h in range(lo, hi + 1)
        }
        return {json.load(open(f))["chain_id"] for f in files}

    server = RpcNodeServer(SyntheticNode("cli-http-1"))
    grpc = GrpcBlockServer(SyntheticNode("cli-grpc-1"))
    try:
        chains = scan(str(tmp_path / "http"), 1, 30,
                      "--backend", "http", "--rpc-url", server.url)
        assert chains == {"cli-http-1"}  # served, not the synthetic default
        assert server.requests == 60  # two GETs per height

        cfg = tmp_path / "node.json"
        cfg.write_text(json.dumps({"backend": "http", "rpc_url": server.url}))
        assert scan(str(tmp_path / "cfg"), 31, 40, "--config", str(cfg)) == {"cli-http-1"}

        chains = scan(str(tmp_path / "grpc"), 1, 10, "--backend", "grpc",
                      "--grpc-target", f"{grpc.host}:{grpc.port}")
        assert chains == {"cli-grpc-1"}
    finally:
        server.close()
        grpc.close()


def _live_fixture_payloads(templates_dir):
    """The 6 golden NewBlock ws messages, ordered by height."""
    import json as _json

    root = os.path.join(templates_dir, "live")
    msgs = []
    for name in os.listdir(root):
        if name.endswith(".json"):
            with open(os.path.join(root, name)) as fh:
                m = _json.load(fh)
            h = int(m["result"]["data"]["value"]["block"]["header"]["height"])
            msgs.append((h, m))
    return [m for _, m in sorted(msgs)]


def _synthetic_new_block_messages(lo: int, hi: int) -> list[dict]:
    """NewBlock ws messages for ``SyntheticNode`` heights lo..hi, in the
    golden live templates' shape (``result.data.value.block`` plus the
    begin/end-block events) that ``decode.new_blocks`` reads."""
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.wsfeed import SUBSCRIPTION_NEW_BLOCK

    node = SyntheticNode()
    msgs = []
    for h in range(lo, hi + 1):
        block, results = (json.loads(p)["result"] for p in node.fetch(h))
        msgs.append({
            "jsonrpc": "2.0",
            "id": 0,
            "result": {
                "query": SUBSCRIPTION_NEW_BLOCK,
                "data": {
                    "type": "tendermint/event/NewBlock",
                    "value": {
                        "block": block["block"],
                        "result_begin_block": {"events": results["begin_block_events"]},
                        "result_end_block": {"events": []},
                    },
                },
            },
        })
    return msgs


class PushCorpus(NamedTuple):
    """A historical leg plus the live NewBlock messages that follow it."""

    hist_options: dict
    hist_heights: range
    live_msgs: list
    live_heights: range


@pytest.fixture(params=["fixtures", "synthetic"])
def push_corpus(request) -> PushCorpus:
    """The push-path end-to-end corpus: the golden 100+6 (needs the
    reference templates) or a ``SyntheticNode`` chain, history 1..100 and
    live 101..106, that runs without them."""
    if request.param == "fixtures":
        from tests.conftest import MAX_LIVE_HEIGHT, MIN_LIVE_HEIGHT

        templates_dir = request.getfixturevalue("templates_dir")
        return PushCorpus(
            {"backend": "fixtures", "fixtures_dir": templates_dir},
            range(MIN_HIST_HEIGHT, MAX_HIST_HEIGHT + 1),
            _live_fixture_payloads(templates_dir),
            range(MIN_LIVE_HEIGHT, MAX_LIVE_HEIGHT + 1),
        )
    return PushCorpus(
        {"backend": "synthetic"},
        range(1, 101),
        _synthetic_new_block_messages(101, 106),
        range(101, 107),
    )


def test_push_feed_combined_with_reconnect(spark, push_corpus, tmp_path):
    """S1: history ∪ live from a PUSH feed (the websocket stand-in) = every
    height once (the golden 100+6 on the fixture corpus), with a mid-stream
    reconnect: after 3 live messages the channel drops (feed file rotated);
    the resubscribed channel replays 1 message and delivers the remaining 3
    — height dedup absorbs the replay (at-least-once transport + F5 =
    exactly-once effect, the reference's lastSeen skip)."""
    from event_stream_spark import decode
    from event_stream_spark.sources.wsfeed import append_messages, live_message_stream
    from event_stream_spark.streaming import dedup_heights_stream, historical_stream

    feed = str(tmp_path / "feed.ndjson")
    msgs = push_corpus.live_msgs
    assert len(msgs) == len(push_corpus.live_heights)
    append_messages(feed, msgs[:3])

    live = decode.new_blocks(
        decode.decode_messages(live_message_stream(spark, feed))
    ).select(
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

    seen = []
    q = (
        merged.writeStream.outputMode("update")
        .foreachBatch(lambda b, _id: seen.extend((r["height"], r["historical"]) for r in b.collect()))
        .start()
    )
    try:
        q.processAllAvailable()
        # connection drop + resubscribe: rotated buffer replays message 3
        # (dup) then delivers 4..6
        os.remove(feed)
        append_messages(feed, msgs[2:])
        q.processAllAvailable()
    finally:
        q.stop()

    heights = sorted(h for h, _ in seen)
    assert heights == [*push_corpus.hist_heights, *push_corpus.live_heights]
    live_seen = sorted(h for h, is_hist in seen if not is_hist)
    assert live_seen == list(push_corpus.live_heights)


def test_http_rpc_transport_batch_scan(spark, hist_corpus):
    """S5/S7 over REAL HTTP: executors fetch the corpus with two GETs per
    height from a localhost Tendermint-RPC-shaped server (the reference's
    TendermintServiceOpenApiClient fetch model), each task over one
    keep-alive connection, and the /status head probe resolves an open
    ``to``."""
    from event_stream_spark.operators.flatten import assemble_stream_blocks
    from event_stream_spark.sources import blockstream
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import parse_source_rows, resolve_heights

    node = blockstream._make_node(hist_corpus.options)
    server = RpcNodeServer(node)
    try:
        blockstream.register(spark)
        df = (
            spark.read.format("blockstream")
            .option("backend", "http")
            .option("rpc_url", server.url)
            .option("from_height", str(hist_corpus.lo))
            .option("to_height", str(hist_corpus.hi))
            .load()
        )
        sb = assemble_stream_blocks(
            parse_source_rows(df), historical=True, decode_tx_meta=False
        )
        assert sb.count() == hist_corpus.expected  # the corpus over the wire
        # two RPCs per height really happened, on one connection per task
        assert server.requests >= 2 * (hist_corpus.hi - hist_corpus.lo + 1)
        assert 0 < server.connections <= 2 * spark.sparkContext.defaultParallelism

        # open `to`: resolved via the /status head probe over HTTP
        frm, to, live = resolve_heights(
            "latest", None, backend="http", rpc_url=server.url
        )
        assert frm == to == node.head()
        assert live == to + 1
    finally:
        server.close()


def test_combined_flow_over_http_with_advancing_head(spark, hist_corpus, tmp_path):
    """The flagship blockDataFlow shape with BOTH legs on a real wire:
    historical backfill ∪ live polling tail whose /status head ADVANCES
    mid-stream (simulated block production) = history + live, heights
    exact, no dupes — S3/S4/S11 over genuine HTTP."""
    from event_stream_spark.sources.blockstream import _make_node
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import combined_block_stream

    live_heights = hist_corpus.live_heights
    server = RpcNodeServer(_make_node(hist_corpus.options))
    server.set_head(live_heights[0] + 2)  # chain head mid-live-corpus
    try:
        df = combined_block_stream(
            spark,
            hist_corpus.lo,
            hist_corpus.hi,
            live_from=live_heights[0],
            decode_tx_meta=False,
            backend="http",
            rpc_url=server.url,
        )
        seen: list[tuple[int, bool]] = []
        q = (
            df.select("height", "historical")
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_http"))
            .foreachBatch(
                lambda b, _id: seen.extend(
                    (r["height"], r["historical"]) for r in b.collect()
                )
            )
            .start()
        )
        try:
            q.processAllAvailable()
            n_before = len(seen)
            assert n_before == hist_corpus.expected + 3
            server.set_head(live_heights[-1])  # three more blocks produced
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        server.close()

    heights = sorted(h for h, _ in seen)
    assert len(heights) == len(set(heights))  # no dupes across the handoff
    assert len(heights) == hist_corpus.expected + len(live_heights)
    live_seen = sorted(h for h, is_hist in seen if not is_hist)
    assert live_seen == list(live_heights)


def _splay_blocks(out: str) -> list[tuple[int, bool]]:
    """(height, historical) of every splay file, sorted; a file's name and
    its payload must agree on the height."""
    blocks = []
    for path in glob.glob(f"{out}/*/*.json"):
        with open(path) as fh:
            payload = json.load(fh)
        assert int(os.path.basename(path)[:-5]) == payload["height"]
        blocks.append((payload["height"], payload["historical"]))
    return sorted(blocks)


_CORE_SIZED_LIVE_TAIL = r"""
import json, sys, time

from event_stream_spark.session import get_spark
from event_stream_spark.sinks.splay import splayed_json_sink
from event_stream_spark.sources.blockstream import SyntheticNode
from event_stream_spark.sources.rpcnode import RpcNodeServer
from event_stream_spark.streaming import combined_block_stream

out, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark("core-sized-state", cpus=2)
sc = spark.sparkContext
sc.setLogLevel("ERROR")
tracker = sc.statusTracker()
cores = sc.defaultParallelism
server = RpcNodeServer(SyntheticNode())
server.set_head(15)
try:
    df = combined_block_stream(
        spark, 1, 10, decode_tx_meta=False, backend="http", rpc_url=server.url
    )
    q = splayed_json_sink(df, out, ckpt).start()
    try:
        q.processAllAvailable()  # the backfill leg and live heights 11..15
        before = set(tracker.getJobIdsForGroup(str(q.runId)))
        server.set_head(18)  # one steady trigger: three new live heights
        q.processAllAvailable()
        jobs = set(tracker.getJobIdsForGroup(str(q.runId))) - before
        deadline = time.time() + 30  # the status store trails the listener bus
        while time.time() < deadline and any(
            tracker.getJobInfo(j).status != "SUCCEEDED" for j in jobs
        ):
            time.sleep(0.1)
        tasks = sum(
            tracker.getStageInfo(s).numTasks
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
        )
        state = q.lastProgress["stateOperators"][0]
    finally:
        q.stop()
finally:
    server.close()
    spark.stop()
print(json.dumps({
    "cores": cores,
    "jobs": len(jobs),
    "tasks": tasks,
    "partitions": state["numShufflePartitions"],
}))
"""


def test_default_session_sizes_live_tail_state_to_its_cores(tmp_path):
    """A session built with default shuffle partitions gives the live tail's
    height dedup one state-store partition per core, so a steady trigger is
    one read task plus ``cores`` state tasks (each loads and commits a
    checkpointed delta file, row or no row).  Runs in its own JVM: the
    shared session pins 8 partitions."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out, ckpt = str(tmp_path / "splay"), str(tmp_path / "ckpt")
    env = dict(
        os.environ,
        SPARK_DRIVER_MEM="1500m",
        PYTHONPATH=os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CORE_SIZED_LIVE_TAIL, out, ckpt],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["cores"] == 2
    assert got["partitions"] == 2
    assert got["jobs"] >= 1
    assert got["tasks"] <= got["cores"] + 1
    assert _splay_blocks(out) == [(h, h <= 10) for h in range(1, 19)]


def test_restarted_live_tail_keeps_its_checkpoint_partition_count(spark, tmp_path):
    """A streaming query's state-store partition count is fixed by its
    first run: the offset log records ``spark.sql.shuffle.partitions`` and
    a restart on the same checkpoint restores it, whatever the session says
    now.  A live tail checkpointed with 8 partitions resumes with 8 after
    the session's count changed, and every height lands exactly once."""
    from event_stream_spark.sinks.splay import splayed_json_sink
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import combined_block_stream

    out, ckpt = str(tmp_path / "splay"), str(tmp_path / "ckpt")
    server = RpcNodeServer(SyntheticNode())

    def run_to(head: int) -> int:
        server.set_head(head)
        df = combined_block_stream(
            spark, 1, 10, decode_tx_meta=False, backend="http", rpc_url=server.url
        )
        q = splayed_json_sink(df, out, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "8")  # the count tests/conftest.py pins, stated here
        assert run_to(15) == 8
        assert _splay_blocks(out) == [(h, h <= 10) for h in range(1, 16)]
        spark.conf.set(conf, "3")
        assert run_to(20) == 8
    finally:
        spark.conf.set(conf, before)
        server.close()
    assert _splay_blocks(out) == [(h, h <= 10) for h in range(1, 21)]


def test_get_spark_returns_the_running_session_unchanged(spark):
    """``get_spark`` called where a session already runs (the CLI's
    ``run`` inside this test session, say) hands that session back without
    rewriting its confs: ``getOrCreate`` would reset the shuffle partitions
    to the call's default and every later query and stream would run with
    them.  Holds from another thread too, which has no active session."""
    import threading

    from event_stream_spark.session import get_spark

    conf = "spark.sql.shuffle.partitions"
    assert spark.conf.get(conf) == "8"  # tests/conftest.py pins it
    got = [get_spark("event-stream-cli", cpus=2)]
    t = threading.Thread(target=lambda: got.append(get_spark("other", cpus=3)))
    t.start()
    t.join()
    assert all(s._jsparkSession.equals(spark._jsparkSession) for s in got)
    assert len(got) == 2
    assert spark.conf.get(conf) == "8"


def test_http_rpc_transport_retries_502():
    """Transient 502s (the reference's retryable server-error class,
    EventStream.kt:222-233) are absorbed by exponential-backoff retry in
    the executor-side fetch."""
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import HttpNode, RpcNodeServer

    node = SyntheticNode()
    server = RpcNodeServer(node)
    try:
        client = HttpNode({"rpc_url": server.url})
        server.fail_next(3)
        assert client.fetch(7) == node.fetch(7)  # 2 GETs, 3 injected 502s
        assert server.requests == 5
    finally:
        server.close()


def test_http_node_retries_429_instead_of_skipping_height():
    """Only 404 means a missing block.  A throttled node (429) is retried,
    so no height is skipped and no offset can be committed past it; a
    fault that outlasts the retries raises instead of reading as a gap."""
    import threading
    import urllib.error
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from event_stream_spark.sources.blockstream import HeightRange, _read_range
    from event_stream_spark.sources.rpcnode import HttpNode
    from event_stream_spark.streaming.retry import NODE_MAX_RETRIES

    stub = {"throttled": 2, "requests": 0}

    class Throttling(BaseHTTPRequestHandler):
        """429 to the first ``throttled`` GETs, then a payload."""

        def log_message(self, *a):
            pass

        def do_GET(self):
            stub["requests"] += 1
            if stub["throttled"] > 0:
                stub["throttled"] -= 1
                self.send_error(429, "too many requests")
                return
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

    server = ThreadingHTTPServer(("127.0.0.1", 0), Throttling)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        client = HttpNode({"rpc_url": f"http://127.0.0.1:{server.server_address[1]}"})
        got = [h for h, _b, _r in _read_range(client, HeightRange(1, 5))]
        assert got == [1, 2, 3, 4, 5]

        stub.update(throttled=NODE_MAX_RETRIES + 1, requests=0)
        with pytest.raises(urllib.error.HTTPError, match="429"):
            client.fetch(1)
        assert stub["requests"] == NODE_MAX_RETRIES + 1
    finally:
        server.shutdown()
        server.server_close()


def test_http_node_redials_after_server_closes_connection():
    """The node keeps one connection for all its GETs; a connection the
    server closed between calls is a transport fault: the next fetch
    redials and succeeds instead of failing the read."""
    import socket

    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import HttpNode, RpcNodeServer

    node = SyntheticNode()
    server = RpcNodeServer(node)
    client = HttpNode({"rpc_url": server.url})
    try:
        assert client.fetch(1) == node.fetch(1)
        assert server.connections == 1
        for sock in list(server._socks):
            sock.shutdown(socket.SHUT_RDWR)
        assert client.fetch(2) == node.fetch(2)
        assert server.connections == 2
    finally:
        client.close()
        server.close()


def test_closed_rpc_server_stops_answering():
    """``RpcNodeServer.close()`` shuts the open keep-alive connections too:
    a client holding one gets no more answers, and its next fetch raises
    once the retries are spent."""
    import threading

    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import HttpNode, RpcNodeServer

    node = SyntheticNode()
    server = RpcNodeServer(node)
    client = HttpNode({"rpc_url": server.url})
    try:
        assert client.fetch(1) == node.fetch(1)
        assert server.connections == 1  # the client's connection is open
        closer = threading.Thread(target=server.close, daemon=True)
        closer.start()
        closer.join(timeout=10)
        assert not closer.is_alive()  # close() does not wait on the client
        with pytest.raises(OSError):
            client.fetch(2)
        assert server.requests == 2
    finally:
        client.close()


def test_http_node_rpc_url_scheme_and_path_prefix():
    """``rpc_url`` keeps what a URL opener accepts: a path prefix is kept
    on every GET, and ``https://`` selects a TLS connection."""
    import http.client
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from event_stream_spark.sources.rpcnode import HttpNode

    paths = []

    class UnderRpc(BaseHTTPRequestHandler):
        """Answers only under ``/rpc/`` (the payload names the path it was
        asked for); anything else is a 400."""

        def log_message(self, *a):
            pass

        def do_GET(self):
            paths.append(self.path)
            if not self.path.startswith("/rpc/"):
                self.send_error(400, "outside /rpc/")
                return
            body = {"result": {"sync_info": {"latest_block_height": "42"}},
                    "path": self.path}
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    stub = ThreadingHTTPServer(("127.0.0.1", 0), UnderRpc)
    threading.Thread(target=stub.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{stub.server_address[1]}/rpc"
    try:
        for url in (base, base + "/"):
            paths.clear()
            client = HttpNode({"rpc_url": url})
            assert client.head() == 42
            block, results = client.fetch(7)
            client.close()
            assert json.loads(block)["path"] == "/rpc/block?height=7"
            assert json.loads(results)["path"] == "/rpc/block_results?height=7"
            assert paths == [
                "/rpc/status", "/rpc/block?height=7", "/rpc/block_results?height=7",
            ]
    finally:
        stub.shutdown()
        stub.server_close()

    # https: a TLS connection to the URL's host and port (nothing is dialled
    # until the first GET)
    tls = HttpNode({"rpc_url": "https://node.invalid:26657/rpc"})
    assert isinstance(tls._conn, http.client.HTTPSConnection)
    assert (tls._conn.host, tls._conn.port) == ("node.invalid", 26657)
    with pytest.raises(ValueError, match="rpc_url"):
        HttpNode({"rpc_url": "ftp://node.invalid/rpc"})


def test_push_feed_throttle_and_subscription(spark, templates_dir, tmp_path):
    """O7/O8 + S2 parity: max_per_trigger caps each microbatch (the ws
    throttle), and an unsupported subscription type is rejected like
    nodeEventStream's require (NodeEventStream.kt:28-46)."""
    from tests.conftest import EXPECTED_LIVE_COUNT
    from event_stream_spark.sources.wsfeed import append_messages, live_message_stream

    feed = str(tmp_path / "feed.ndjson")
    append_messages(feed, _live_fixture_payloads(templates_dir))

    batch_sizes = []
    _drain(
        live_message_stream(spark, feed, max_per_trigger=2)
        .writeStream.foreachBatch(lambda b, _id: batch_sizes.append(b.count()))
    )
    assert sum(batch_sizes) == EXPECTED_LIVE_COUNT
    assert max(batch_sizes) <= 2  # throttled

    with pytest.raises(Exception, match="unsupported subscription"):
        _drain(
            live_message_stream(
                spark, feed, subscription="tm.event='Tx'"
            ).writeStream.format("noop")
        )


def test_combined_header_stream_fixtures(spark, templates_dir):
    """blockHeaderFlow parity (MultiplexBlockHeaderFlow.kt:23-61): header
    backfill ∪ live header tail = the golden 100+6 heights, schema carries
    the header struct only — the parse schema contains no txs field, so tx
    payloads are pruned at from_json (never materialized)."""
    from tests.conftest import (
        EXPECTED_HISTORICAL_BLOCK_COUNT,
        EXPECTED_LIVE_COUNT,
        MAX_LIVE_HEIGHT,
        MIN_LIVE_HEIGHT,
    )
    from event_stream_spark.streaming import combined_header_stream

    df = combined_header_stream(
        spark,
        MIN_HIST_HEIGHT,
        MAX_HIST_HEIGHT,
        live_from=MIN_LIVE_HEIGHT,
        backend="fixtures",
        fixtures_dir=templates_dir,
    )
    assert df.isStreaming
    assert "txs" not in df.schema.simpleString()  # nested pruning at parse
    assert "header" in df.columns and "historical" in df.columns
    batches = []
    _drain(
        df.select("height", "historical").writeStream.foreachBatch(
            lambda b, _id: batches.append(b.toPandas())
        )
    )
    import pandas as pd

    got = pd.concat(batches)
    assert len(got) == EXPECTED_HISTORICAL_BLOCK_COUNT + EXPECTED_LIVE_COUNT
    assert set(got[~got.historical].height) == set(
        range(MIN_LIVE_HEIGHT, MAX_LIVE_HEIGHT + 1)
    )


@pytest.mark.parametrize(
    "corpus", ["synthetic", *(["fixtures"] if os.path.isdir(TEMPLATES) else [])]
)
def test_from_latest_resolution(spark, request, corpus):
    """from="latest" resolves to the current head at plan time
    (MultiplexBlockDataFlow.kt:82-92): the bounded run emits exactly the
    head block; to_height=None resolves the backfill leg to head too."""
    from event_stream_spark.streaming import combined_block_stream, resolve_heights

    if corpus == "fixtures":
        from tests.conftest import MAX_LIVE_HEIGHT, MIN_LIVE_HEIGHT

        options = {
            "backend": "fixtures",
            "fixtures_dir": request.getfixturevalue("templates_dir"),
        }
        head, tail_from = MAX_LIVE_HEIGHT, MIN_LIVE_HEIGHT
    else:
        from event_stream_spark.sources.blockstream import SYNTHETIC_HEAD

        options = {"backend": "synthetic"}
        head, tail_from = SYNTHETIC_HEAD, SYNTHETIC_HEAD - 5

    assert resolve_heights("latest", None, **options) == (head, head, head + 1)
    with pytest.raises(ValueError, match="invalid height specifier"):
        resolve_heights("newest", None, **options)

    def emitted(from_height) -> list[int]:
        df = combined_block_stream(spark, from_height, decode_tx_meta=False, **options)
        heights: list[int] = []
        _drain(
            df.select("height").writeStream.foreachBatch(
                lambda b, _id: heights.extend(r["height"] for r in b.collect())
            )
        )
        return heights

    assert emitted("latest") == [head]
    # open-ended `to`: the backfill leg resolves to head, each height once
    assert sorted(emitted(tail_from)) == list(range(tail_from, head + 1))


@pytest.mark.parametrize("builder", ["blocks", "headers"])
@pytest.mark.parametrize(
    "from_h, to_h, want",
    [
        (1, 8, range(1, 13)),  # backfill 1..8, live from 9: the handoff
        (10, None, range(10, 13)),  # open `to`, `from` above the head
        (10, 20, range(10, 13)),  # backfill leg starts above the head
        (10, 5, None),  # explicit `to` below `from`: rejected
    ],
)
def test_combined_stream_never_emits_below_from(spark, builder, from_h, to_h, want):
    """Both combined builders decide the live start once: an explicit
    ``to < from`` raises like the batch reader, and while the head is below
    ``from`` neither leg commits an offset under it, so nothing below
    ``from`` is emitted once the chain grows past it."""
    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import RpcNodeServer
    from event_stream_spark.streaming import (
        combined_block_stream,
        combined_header_stream,
    )

    if builder == "blocks":
        build = functools.partial(combined_block_stream, decode_tx_meta=False)
    else:
        build = combined_header_stream
    server = RpcNodeServer(SyntheticNode())
    server.set_head(8)
    try:
        if want is None:
            with pytest.raises(ValueError, match="must be <="):
                build(spark, from_h, to_h, backend="http", rpc_url=server.url)
            return
        df = build(spark, from_h, to_h, backend="http", rpc_url=server.url)
        seen: list[int] = []
        q = (
            df.select("height")
            .writeStream.foreachBatch(
                lambda b, _id: seen.extend(r["height"] for r in b.collect())
            )
            .start()
        )
        try:
            q.processAllAvailable()
            server.set_head(12)  # the chain grows past `from`
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        server.close()
    assert sorted(seen) == list(want)


def test_cli_batch_fixtures(spark, templates_dir):
    """§3.3 CLI fixtures backend: --templates-dir reaches FixtureNode and the
    bounded scan replays the golden 100-block corpus."""
    from event_stream_spark.cli import build_parser, build_pipeline

    args = build_parser().parse_args(
        [
            "--from-height", str(MIN_HIST_HEIGHT),
            "--to-height", str(MAX_HIST_HEIGHT),
            "--batch", "--backend", "fixtures",
            "--templates-dir", templates_dir,
            "--no-tx-meta",
        ]
    )
    df = build_pipeline(spark, args)
    assert df.count() == 100


def test_cli_config_file_fixtures(spark, templates_dir, tmp_path):
    """application.yml parity (Main.kt:65-70, Config.kt:9-63): the whole
    pipeline configured from a YAML file — event-stream.height window,
    skipEmptyBlocks (hoplite camelCase alias), fixtures backend — and
    explicit CLI flags override file values (hoplite CLI > file)."""
    from tests.conftest import EXPECTED_NONEMPTY_BLOCKS
    from event_stream_spark.cli import build_pipeline, load_config, parse_args

    cfg = tmp_path / "application.yml"
    cfg.write_text(
        "event-stream:\n"
        "  height:\n"
        f"    from: {MIN_HIST_HEIGHT}\n"
        f"    to: {MAX_HIST_HEIGHT}\n"
        "  skipEmptyBlocks: true\n"
        "batch_mode: true\n"
        "backend: fixtures\n"
        f"templates_dir: {templates_dir}\n"
        "no_tx_meta: true\n"
    )
    args = parse_args(["--config", str(cfg)])
    assert args.batch and args.skip_empty_blocks and args.backend == "fixtures"
    df = build_pipeline(spark, args)
    assert df.count() == EXPECTED_NONEMPTY_BLOCKS  # file's filter applied

    # CLI > file: an explicit flag narrows the file's height window
    args2 = parse_args(
        ["--config", str(cfg), "--to-height", str(MIN_HIST_HEIGHT + 9)]
    )
    assert args2.from_height == MIN_HIST_HEIGHT  # still from the file
    assert args2.to_height == MIN_HIST_HEIGHT + 9  # overridden

    # JSON is accepted with the same schema, snake_case aliases included
    jcfg = tmp_path / "config.json"
    jcfg.write_text(
        json.dumps(
            {
                "event-stream": {
                    "height": {"from": 5, "to": 10},
                    "filter": {"tx_events": ["transfer"]},
                    "skip_empty_blocks": False,
                },
                "backend": "synthetic",
                "console_nth": 7,
            }
        )
    )
    flat = load_config(str(jcfg))
    assert flat == {
        "from_height": 5,
        "to_height": 10,
        "tx_event": ["transfer"],
        "skip_empty_blocks": False,
        "backend": "synthetic",
        "console_nth": 7,
    }


def test_cli_unbounded_stream(spark, templates_dir):
    """CLI streaming mode without --to-height (the reference's primary
    live-tail use): to_height must NOT leak into options as the string
    "None" — the stream plans [from, head] and drains the corpus."""
    from event_stream_spark.cli import build_parser, build_pipeline

    from tests.conftest import EXPECTED_LIVE_COUNT, MIN_LIVE_HEIGHT

    args = build_parser().parse_args(
        [
            "--from-height", str(MIN_LIVE_HEIGHT),
            "--backend", "fixtures",
            "--templates-dir", templates_dir,
            "--no-tx-meta",
        ]
    )
    df = build_pipeline(spark, args)
    assert df.isStreaming
    counted = []
    _drain(
        df.select("height").writeStream.foreachBatch(
            lambda b, _id: counted.append(b.count())
        )
    )
    assert sum(counted) == EXPECTED_LIVE_COUNT  # tail [MIN_LIVE_HEIGHT, head]


def test_checkpoint_introspection(spark, tmp_path):
    """Checkpoint.kt parity: lastCheckpoint() analog reads the resume height
    from the offset/commit logs without starting a query."""
    from event_stream_spark.streaming import historical_stream
    from event_stream_spark.streaming.checkpoint import (
        last_checkpoint,
        last_committed_batch,
    )

    ckpt = str(tmp_path / "ckpt")
    assert last_committed_batch(ckpt) is None and last_checkpoint(ckpt) is None

    df = historical_stream(spark, 1, 30, backend="synthetic", decode_tx_meta=False)
    _drain(
        df.select("height")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    assert last_checkpoint(ckpt) == 30


def test_stateful_gap_detection(spark, tmp_path):
    """applyInPandasWithState contiguity tracking: lastSeen persists ACROSS
    microbatches; gaps within and between batches are each emitted once."""
    from event_stream_spark.streaming.gapdetect import detect_gaps

    src = str(tmp_path / "feed")
    os.makedirs(src)

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for chain, h in rows:
                fh.write(json.dumps({"chain_id": chain, "height": h}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    feed("b1", [("a", 1), ("a", 2), ("a", 5), ("b", 10)])  # in-batch gap 3-4

    stream = spark.readStream.schema("chain_id string, height bigint").json(src)
    gaps = detect_gaps(stream)
    q = (
        gaps.writeStream.format("memory")
        .queryName("gaps")
        .option("checkpointLocation", str(tmp_path / "ckpt_gap"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r["chain_id"], r["gap_start"], r["gap_end"])
            for r in spark.sql("SELECT * FROM gaps").collect()
        }
        assert got1 == {("a", 3, 4)}

        # second microbatch: cross-batch gap for a (6..7 missing before 8),
        # none for b (11 is contiguous), dupes/late heights ignored
        feed("b2", [("a", 8), ("a", 5), ("b", 11)])
        q.processAllAvailable()
        got2 = {
            (r["chain_id"], r["gap_start"], r["gap_end"])
            for r in spark.sql("SELECT * FROM gaps").collect()
        }
        assert got2 == {("a", 3, 4), ("a", 6, 7)}
    finally:
        q.stop()


def test_push_feed_restart_from_checkpoint(spark, templates_dir, tmp_path):
    """The line→global rebase mapping survives a query restart: a fresh
    reader resumes from checkpointed offsets without stalling or skipping,
    both when the connection is unchanged and after a reconnect-while-down
    (sidecar-persisted (conn, base) state)."""
    from event_stream_spark.sources.wsfeed import append_messages, live_message_stream

    feed = str(tmp_path / "feed.ndjson")
    ckpt = str(tmp_path / "ckpt")
    msgs = _live_fixture_payloads(templates_dir)
    seen: list[str] = []

    def run_once():
        q = (
            live_message_stream(spark, feed)
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _id: seen.extend(r["payload"] for r in b.collect())
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()

    append_messages(feed, msgs[:3])
    run_once()
    assert len(seen) == 3

    # same connection, query down while one more message arrives
    append_messages(feed, msgs[3:4])
    run_once()
    assert len(seen) == 4  # resumed exactly: no re-delivery, no skip

    # reconnect while down: rotated buffer holds the remaining messages
    os.remove(feed)
    append_messages(feed, msgs[4:])
    run_once()
    expected = {
        json.dumps(
            m if isinstance(m, dict) else json.loads(m), separators=(",", ":")
        )
        for m in msgs
    }
    assert expected <= set(seen)  # every message delivered (dups allowed)


class HistCorpus(NamedTuple):
    """A historical range on one content node, the count of heights it
    holds, and the live heights that follow it on the same node."""

    options: dict
    lo: int
    hi: int
    expected: int
    live_heights: range


@pytest.fixture(
    params=["synthetic", *(["fixtures"] if os.path.isdir(TEMPLATES) else [])]
)
def hist_corpus(request) -> HistCorpus:
    """A hole-free ``SyntheticNode`` chain (history 1..100, live 101..106),
    or the golden corpus when the reference templates exist."""
    if request.param == "fixtures":
        from tests.conftest import (
            EXPECTED_HISTORICAL_BLOCK_COUNT,
            MAX_LIVE_HEIGHT,
            MIN_LIVE_HEIGHT,
        )

        templates_dir = request.getfixturevalue("templates_dir")
        return HistCorpus(
            {"backend": "fixtures", "fixtures_dir": templates_dir},
            MIN_HIST_HEIGHT,
            MAX_HIST_HEIGHT,
            EXPECTED_HISTORICAL_BLOCK_COUNT,
            range(MIN_LIVE_HEIGHT, MAX_LIVE_HEIGHT + 1),
        )
    return HistCorpus({"backend": "synthetic"}, 1, 100, 100, range(101, 107))


def test_blockstream_max_heights_per_trigger(spark, hist_corpus, tmp_path):
    """O7 throttle on the polling source: each microbatch spans at most
    max_heights_per_trigger heights; the full range still arrives."""
    from event_stream_spark.streaming import historical_stream

    options, lo, hi, expected, _live = hist_corpus
    batch_sizes = []
    _drain(
        historical_stream(
            spark,
            lo,
            hi,
            decode_tx_meta=False,
            max_heights_per_trigger=25,
            **options,
        )
        .writeStream.foreachBatch(lambda b, _id: batch_sizes.append(b.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt")),
    )
    assert sum(batch_sizes) == expected
    assert max(batch_sizes) <= 25  # throttled
    assert len([s for s in batch_sizes if s]) >= 4  # drained in steps


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """§2.9 extension: stream-stream time-interval join — the streamed run
    (two file streams, watermarked, bounded state) produces exactly the
    batch join's pairs; lookback boundary rows are inclusive both ends."""
    import datetime as dt

    from event_stream_spark.streaming.windows import interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    schema = "user_id long, ts timestamp, event_id long"
    purchases = [(1, mins(30), 100), (1, mins(60), 101), (2, mins(30), 102)]
    clicks = [
        (1, mins(15), 200),  # exactly lookback before purchase 100 → kept
        (1, mins(29), 201),  # within both purchase windows? 60-15=45 > 29 → only 100
        (1, mins(50), 202),  # matches purchase 101 only
        (1, mins(31), 203),  # after purchase 100, before 101-15 → matches none
        (2, mins(40), 204),  # after the only user-2 purchase → none
    ]
    lb = spark.createDataFrame(purchases, schema)
    rb = spark.createDataFrame(clicks, schema)
    pair = lambda r: (r["event_id"], r["event_id_r"])  # noqa: E731
    batch = {pair(r) for r in interval_join(lb, rb).collect()}
    assert batch == {(100, 200), (100, 201), (101, 202)}

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    lb.coalesce(1).write.parquet(lsrc)
    rb.coalesce(1).write.parquet(rsrc)
    ls = spark.readStream.schema(lb.schema).parquet(lsrc)
    rs = spark.readStream.schema(rb.schema).parquet(rsrc)
    _drain(
        interval_join(ls, rs)
        .writeStream.format("memory")
        .queryName("ivj")
        .option("checkpointLocation", str(tmp_path / "ckpt_ivj"))
        .outputMode("append")
    )
    streamed = {pair(r) for r in spark.sql("SELECT * FROM ivj").collect()}
    assert streamed == batch


def test_rollup_incremental_maintenance(spark, tmp_path):
    """Continuous-aggregate maintenance: events arrive in two chunks with a
    restart between them; the maintained parquet rollup equals the batch
    rollup over all events, and re-running a completed stream (replay) is a
    no-op (idempotent dynamic partition overwrite)."""
    import datetime as dt

    from event_stream_spark.streaming.rollup import hourly_rollup, maintain_rollup

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    schema = "ts timestamp, event_type string, value double"
    chunk1 = [(mins(5), "click", 1.0), (mins(20), "view", 2.0), (mins(65), "click", 4.0)]
    chunk2 = [(mins(70), "click", 8.0), (mins(130), "view", 16.0)]
    sentinel = [(mins(60 * 24), "zz_sentinel", 0.0)]  # drives watermark past all

    src = str(tmp_path / "events_src")
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt_rollup")

    def arrive(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        _drain(maintain_rollup(stream, out, ckpt))

    arrive(chunk1)
    run_once()  # hour 0 may finalize once chunk2's times arrive — not yet
    arrive(chunk2)
    run_once()
    arrive(sentinel)
    run_once()  # sentinel finalizes hours 1 and 2
    run_once()  # replay with nothing new: must not duplicate or corrupt

    got = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "zz_sentinel"
    }
    batch_df = spark.createDataFrame(chunk1 + chunk2, schema)
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in hourly_rollup(batch_df, watermark=None).collect()
    }
    assert got == want
    assert (mins(0).replace(minute=0), "click") in got  # hour-0 click present


def test_streaming_incremental_dedup_corpus(spark, tmp_path):
    """Streaming twin of dedup_incremental: crawl batches stream in; each
    dedups within itself (keep-first) and against the corpus built so far;
    and a full checkpoint-loss replay of already-ingested files is a
    no-op — at-least-once delivery + hash anti-join = exactly-once corpus
    membership."""
    from event_stream_spark.streaming.dedupstream import corpus_ingest_sink

    src = str(tmp_path / "crawl")
    corpus = str(tmp_path / "corpus")
    os.makedirs(src)

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    b1 = [(1, "alpha"), (2, "beta"), (3, "  Alpha "), (4, "gamma")]  # 3 dup of 1
    b2 = [(5, "beta"), (6, "delta"), (7, "delta"), (8, "ALPHA")]  # 5,8 cross-dups

    def start(ckpt):
        stream = spark.readStream.schema("doc_id bigint, text string").json(src)
        return (
            corpus_ingest_sink(stream, corpus, str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )

    feed("b1", b1)
    q = start("ck1")
    q.awaitTermination(120)
    feed("b2", b2)
    q = start("ck1")
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    # keep-first within batch; normalized-hash dedup across batches
    assert got == {(1, "alpha"), (2, "beta"), (4, "gamma"), (6, "delta")}

    # checkpoint loss: the SAME files replay from scratch under a fresh
    # checkpoint — every row hash-collides with the corpus, nothing appends
    q = start("ck2_fresh")
    q.awaitTermination(120)
    after = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert after == got


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Streaming funnel (applyInPandasWithState) vs the batch q29 logic on
    the same in-order events: the furthest step per user must agree, with
    state persisting across microbatches (the click that converts arrives
    a batch after its view)."""
    from event_stream_spark.streaming.funnel import WINDOW_US, funnel_progress

    src = str(tmp_path / "funnel_feed")
    os.makedirs(src)

    H = 3_600_000_000
    batch1 = [
        (1, 0, "view"), (1, H // 2, "click"),          # u1: view+click in window
        (2, 0, "view"), (2, 2 * H, "click"),           # u2: click too late
        (3, 0, "click"),                                # u3: click before any view
        (4, 0, "view"),
    ]
    batch2 = [
        (1, H // 2 + 10, "purchase"),                   # u1 completes
        (3, H, "view"), (3, H + 5, "click"),            # u3 recovers to step 2
        (4, H // 2, "click"), (4, 3 * H, "purchase"),   # u4 purchase too late
    ]

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for u, us, et in rows:
                fh.write(json.dumps({"user_id": u, "us": us, "event_type": et}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    feed("b1", batch1)
    stream = spark.readStream.schema(
        "user_id bigint, us bigint, event_type string"
    ).json(src)
    q = (
        funnel_progress(stream)
        .writeStream.format("memory")
        .queryName("funnel")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        feed("b2", batch2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel").collect()
    finally:
        q.stop()

    furthest = {}
    for r in rows:
        furthest[r.user_id] = max(furthest.get(r.user_id, 0), r.funnel_step)

    # batch-side expectation: q29's conditional-min logic on the union
    def batch_funnel(events):
        steps = {}
        for u in {e[0] for e in events}:
            ev = sorted(e for e in events if e[0] == u)
            t1 = min((us for _, us, et in ev if et == "view"), default=None)
            t2 = (
                min((us for _, us, et in ev
                     if et == "click" and t1 is not None and t1 < us <= t1 + WINDOW_US),
                    default=None)
                if t1 is not None else None
            )
            t3 = (
                min((us for _, us, et in ev
                     if et == "purchase" and t2 is not None and t2 < us <= t2 + WINDOW_US),
                    default=None)
                if t2 is not None else None
            )
            steps[u] = (
                3 if t3 is not None else 2 if t2 is not None
                else 1 if t1 is not None else 0
            )
        return steps

    expected = batch_funnel(batch1 + batch2)
    for u, s in expected.items():
        assert furthest.get(u, 0) == s, (u, furthest.get(u), s)
    assert expected == {1: 3, 2: 1, 3: 2, 4: 2}


def test_streaming_funnel_out_of_order_buffer_policy(spark, tmp_path):
    """late_policy="buffer": a click arriving a batch BEFORE its view (and a
    purchase before both) still converts once the watermark passes — the
    events are buffered and applied in event-time order, matching batch q29
    under arbitrary arrival order.  The default "arrival" policy documents
    the opposite contract: that click is dropped (tested by the assertion
    on the arrival-mode run below).  Also exercises the event-time timeout:
    u2's buffered view flushes in a batch carrying no u2 rows at all."""
    from event_stream_spark.streaming.funnel import funnel_progress

    H = 3_600_000_000
    src = str(tmp_path / "funnel_ooo")
    os.makedirs(src)

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for u, us, et in rows:
                fh.write(json.dumps({"user_id": u, "us": us, "event_type": et}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    # u1 arrives fully REVERSED across batches: purchase+click first, view
    # later; u99 only drives the watermark (delay = 1h)
    b1 = [(1, int(1.5 * H), "click"), (1, int(1.6 * H), "purchase"),
          (99, int(0.1 * H), "view")]
    b2 = [(1, int(1.1 * H), "view"), (2, int(2.5 * H), "view"),
          (99, 3 * H, "view")]
    b3 = [(99, 5 * H, "view")]  # watermark driver only: u2 must flush via timeout

    def run(policy, qname):
        import shutil

        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        feed("b1", b1)
        stream = spark.readStream.schema(
            "user_id bigint, us bigint, event_type string"
        ).json(src)
        q = (
            funnel_progress(stream, late_policy=policy)
            .writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", str(tmp_path / ("ckpt_" + qname)))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            feed("b2", b2)
            q.processAllAvailable()
            feed("b3", b3)
            q.processAllAvailable()
            return spark.sql(f"SELECT * FROM {qname}").collect()
        finally:
            q.stop()

    rows = run("buffer", "funnel_ooo_buf")
    steps = {}
    for r in rows:
        steps.setdefault(r.user_id, []).append((r.funnel_step, r.at_us))
    # u1: view@1.1H -> click@1.5H (within 1h of view) -> purchase@1.6H
    assert sorted(steps[1]) == [
        (1, int(1.1 * H)), (2, int(1.5 * H)), (3, int(1.6 * H))
    ]
    # u2: view buffered in b2 (beyond watermark), flushed by the event-time
    # timeout when b3 advanced the watermark past it — no u2 rows in b3
    assert steps[2] == [(1, int(2.5 * H))]

    # contrast: arrival policy drops the out-of-order click/purchase
    rows_a = run("arrival", "funnel_ooo_arr")
    steps_a = {}
    for r in rows_a:
        steps_a.setdefault(r.user_id, []).append(r.funnel_step)
    assert steps_a[1] == [1]  # view landed; its click was never revisited


def test_streaming_funnel_expire_decided_bounds_state(spark, tmp_path):
    """expire_decided=True: a decided funnel's state is dropped at the
    watermark, so a user returning AFTER expiry re-enters the funnel fresh
    (the documented bounded-state caveat) — while the default retains the
    decision and stays exactly batch-parity."""
    from event_stream_spark.streaming.funnel import funnel_progress

    H = 3_600_000_000
    src = str(tmp_path / "funnel_exp")

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for u, us, et in rows:
                fh.write(json.dumps({"user_id": u, "us": us, "event_type": et}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    # u1 completes the funnel early; much later (watermark far past the
    # decision) u1 sends a fresh view.  Timestamps start at 2H: an event at
    # us=0 sits exactly on the initial watermark and Spark drops it as late
    # before the operator ever sees it.
    b1 = [(1, 2 * H, "view"), (1, int(2.5 * H), "click"),
          (1, int(2.5 * H) + 10, "purchase"), (99, int(2.1 * H), "view")]
    b2 = [(99, 10 * H, "view")]   # watermark sails past u1's funnel
    b3 = [(1, 11 * H, "view"), (99, 13 * H, "view")]

    def run(expire, qname):
        import shutil

        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        feed("b1", b1)
        stream = spark.readStream.schema(
            "user_id bigint, us bigint, event_type string"
        ).json(src)
        q = (
            funnel_progress(stream, late_policy="buffer", expire_decided=expire)
            .writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", str(tmp_path / ("ckpt_" + qname)))
            .outputMode("append")
            .start()
        )
        try:
            for name, rows in (("b2", b2), ("b3", b3)):
                q.processAllAvailable()
                feed(name, rows)
            q.processAllAvailable()
            return [
                (r.funnel_step, r.at_us)
                for r in spark.sql(
                    f"SELECT * FROM {qname} WHERE user_id = 1"
                ).collect()
            ]
        finally:
            q.stop()

    kept = run(False, "funnel_keep")
    # q29 exact: the decided funnel is remembered; the late view is a no-op
    assert sorted(kept) == [
        (1, 2 * H), (2, int(2.5 * H)), (3, int(2.5 * H) + 10)
    ]

    expired = run(True, "funnel_expire")
    # funnel re-entered fresh after expiry: the late view re-emits step 1
    assert sorted(expired) == [
        (1, 2 * H), (1, 11 * H), (2, int(2.5 * H)), (3, int(2.5 * H) + 10)
    ]


def test_streaming_anomaly_matches_batch(spark, tmp_path):
    """Streaming z-score twin vs batch ts_anomaly on the same in-order
    events split across microbatches: per-event scores and flags agree
    (the trailing window persists across the batch boundary)."""
    import datetime as dt

    import pandas as pd

    from event_stream_spark.queries import ts_anomaly
    from event_stream_spark.streaming.anomaly import anomaly_scores

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        v = 500.0 if i == 30 else 10.0 + (i % 3)  # spike lands in batch 2
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, "tick", v, "{}"))
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(d / "events.parquet")
    batch = {r.event_id: r for r in ts_anomaly(spark, str(d)).collect()}

    src = str(tmp_path / "anomaly_feed")
    os.makedirs(src)

    def feed(name, rs):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for eid, ts, uid, _et, v, _p in rs:
                us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
                fh.write(json.dumps(
                    {"user_id": uid, "event_id": eid, "us": us, "value": v}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    feed("b1", rows[:25])
    stream = spark.readStream.schema(
        "user_id bigint, event_id bigint, us bigint, value double"
    ).json(src)
    q = (
        anomaly_scores(stream)
        .writeStream.format("memory")
        .queryName("anomaly_scores")
        .option("checkpointLocation", str(tmp_path / "ckpt_anomaly"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        feed("b2", rows[25:])
        q.processAllAvailable()
        streamed = {r.event_id: r for r in spark.sql(
            "SELECT * FROM anomaly_scores").collect()}
    finally:
        q.stop()

    assert set(streamed) == set(batch) == set(range(40))
    for eid in batch:
        b, s = batch[eid], streamed[eid]
        if b.zscore is None:
            assert s.zscore is None
        else:
            assert abs(b.zscore - s.zscore) <= 1e-6, (eid, b.zscore, s.zscore)
        assert bool(b.is_anomaly or False) == bool(s.is_anomaly or False)
    assert [eid for eid, r in streamed.items() if r.is_anomaly] == [30]


def test_cli_table_admin_verbs(spark, tmp_path, capsys):
    """--table-admin drives the lakehouse maintenance loop end-to-end:
    history/count, branch + merge + branches + drop-branch, compact,
    restore, vacuum — an operator's whole session without Python."""
    from event_stream_spark.cli import run
    from event_stream_spark.sources.snaplog import commit, snap_count

    table = str(tmp_path / "tbl")
    commit(spark.range(0, 10).withColumnRenamed("id", "k"), table)

    run(["--table", table, "--table-admin", "count"])
    assert capsys.readouterr().out.strip() == "10"

    run(["--table", table, "--table-admin", "branch:exp"])
    capsys.readouterr()
    commit(
        spark.range(100, 105).withColumnRenamed("id", "k"), table + "@exp"
    )
    run(["--table", table, "--table-admin", "branches"])
    assert capsys.readouterr().out.split() == ["exp"]
    run(["--table", table, "--table-admin", "merge:exp"])
    assert "merged" in capsys.readouterr().out
    assert snap_count(table) == 15
    run(["--table", table, "--table-admin", "drop-branch:exp"])
    capsys.readouterr()

    # row-level merge verb: branch and main update the same file on
    # disjoint keys; merge-rows lands the branch's update
    from event_stream_spark.sources.snaplog import merge_upsert, read_snapshot

    run(["--table", table, "--table-admin", "branch:rows"])
    capsys.readouterr()
    merge_upsert(
        spark, table + "@rows",
        spark.createDataFrame([(1, 101)], "k long, v long"),
        key="k",
    )
    merge_upsert(
        spark, table,
        spark.createDataFrame([(2, 202)], "k long, v long"),
        key="k",
    )
    run(["--table", table, "--table-admin", "merge-rows:rows,k"])
    assert "row-merged" in capsys.readouterr().out
    got = {
        (r.k, r.v)
        for r in read_snapshot(spark, table).filter("k IN (1, 2)").collect()
    }
    assert got == {(1, 101), (2, 202)}
    run(["--table", table, "--table-admin", "drop-branch:rows"])
    capsys.readouterr()

    run(["--table", table, "--table-admin", "compact:1"])
    run(["--table", table, "--table-admin", "history"])
    hist = capsys.readouterr().out
    assert "merge_branch" in hist
    run(["--table", table, "--table-admin", "restore:1"])
    capsys.readouterr()
    assert snap_count(table) == 15
    run(["--table", table, "--table-admin", "vacuum:1"])
    assert "removed" in capsys.readouterr().out

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        run(["--table", table, "--table-admin", "frobnicate"])
    with _pytest.raises(SystemExit):
        run(["--table-admin", "count"])


def test_cli_query_mode(spark, tmp_path, capsys):
    """--query runs any registry entry against --sf-dir: parquet out has the
    query's schema/rows; --list-queries enumerates the registry."""
    from event_stream_spark.cli import run

    out = f"{tmp_path}/q19_out"
    run([
        "--query", "q19",
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
    ])
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert "l_returnflag" in got.columns and "s_qty" in got.columns

    from event_stream_spark.datapipe import DATAPIPE_QUERIES
    from event_stream_spark.queries import QUERIES

    capsys.readouterr()  # drop the q19 run's output
    run(["--list-queries"])
    listed = capsys.readouterr().out.split()
    assert "q19" in listed and "dedup_minhash" in listed and "bpe_learn" in listed
    assert listed == sorted({*QUERIES, *DATAPIPE_QUERIES})

    # --explain prints the formatted physical plan, runs nothing
    run(["--query", "q1", "--sf-dir", "/root/testdata/sf0.001", "--explain"])
    planned = capsys.readouterr().out
    assert "Physical Plan" in planned and "PushedFilters" in planned

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        run(["--query", "nope_not_a_query"])
    # the deleted media entry is gone from the registry, not just unlisted
    with _pytest.raises(SystemExit, match="unknown query"):
        run(["--query", "multimodal_meta"])


def test_snapshot_log_time_travel_and_atomicity(spark, tmp_path):
    """Snapshot log: appends become numbered snapshots readable in time
    travel; a crash that wrote data files but no manifest is invisible;
    overwrite starts a fresh file set with history intact until vacuum."""
    import glob

    from event_stream_spark.sources.snaplog import (
        commit,
        read_snapshot,
        snapshots,
        vacuum,
    )

    table = str(tmp_path / "tbl")

    def df_of(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")

    assert commit(df_of(0, 10), table) == 0
    assert commit(df_of(10, 30), table) == 1
    assert snapshots(table) == [0, 1]
    assert read_snapshot(spark, table, snapshot=0).count() == 10
    assert read_snapshot(spark, table).count() == 30

    # simulated crash: data files land, manifest never does → invisible
    crash_dir = str(tmp_path / "tbl" / "data" / "c999-crashed")
    df_of(0, 5).write.parquet(crash_dir)
    assert read_snapshot(spark, table).count() == 30
    assert snapshots(table) == [0, 1]

    # overwrite replaces the visible file set; old snapshots still readable
    assert commit(df_of(100, 104), table, mode="overwrite") == 2
    assert read_snapshot(spark, table).count() == 4
    assert read_snapshot(spark, table, snapshot=1).count() == 30
    got = {r.id for r in read_snapshot(spark, table).collect()}
    assert got == {100, 101, 102, 103}

    # vacuum to the latest snapshot: time travel gone, current intact,
    # orphaned crash files swept (ttl=0: test declares no concurrent
    # writers, so fresh unreferenced files are fair game)
    removed = vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert removed
    assert snapshots(table) == [2]
    assert read_snapshot(spark, table).count() == 4
    live = set(glob.glob(f"{table}/data/*/*.parquet"))
    manifest_files = {
        f["path"]
        for f in __import__("json").load(
            open(glob.glob(f"{table}/_log/*.json")[0])
        )["files"]
    }
    assert live == manifest_files  # nothing unreachable survives


def test_snapshot_log_contention_retries(spark, tmp_path):
    """Two committers racing for the same snapshot id: the loser retries
    onto the next id and no data is lost (simulated by pre-claiming the
    manifest the first attempt would take)."""
    import os

    from event_stream_spark.sources.snaplog import commit, read_snapshot, snapshots

    table = str(tmp_path / "tbl")
    commit(spark.range(5).selectExpr("id", "id AS v"), table)
    # pre-claim snapshot 1 as a competing writer would
    os.makedirs(f"{table}/_log", exist_ok=True)
    with open(f"{table}/_log/{1:012d}.json", "w") as fh:
        fh.write('{"snapshot": 1, "op": "append", "files": []}')
    n = commit(spark.range(5, 8).selectExpr("id", "id AS v"), table)
    assert n == 2  # lost the race for 1, landed on 2
    assert snapshots(table) == [0, 1, 2]
    # snapshot 2 chains from snapshot 1's (empty) file list — the racing
    # committer's view — so it holds exactly this commit's rows
    assert read_snapshot(spark, table, snapshot=2).count() == 3


def test_snapshot_log_manifest_file_skipping(spark, tmp_path):
    """Per-file min/max in the manifest prunes non-overlapping files before
    the scan is planned: a narrow id predicate reads exactly one of four
    committed files, and skipping never loses matching rows."""
    from event_stream_spark.sources.snaplog import commit, read_snapshot

    table = str(tmp_path / "tbl")
    for lo in (0, 100, 200, 300):
        commit(
            spark.range(lo, lo + 100).coalesce(1).selectExpr("id", "id * 2 AS v"),
            table,
            stats_cols=["id"],
        )
    full = read_snapshot(spark, table)
    assert full.count() == 400 and len(full.inputFiles()) == 4

    pruned = read_snapshot(spark, table, prune={"id": (150, 160)})
    assert len(pruned.inputFiles()) == 1
    assert pruned.filter("id BETWEEN 150 AND 160").count() == 11

    # disjoint predicate → zero files, empty frame
    none = read_snapshot(spark, table, prune={"id": (1000, 2000)})
    assert none.count() == 0

    # a commit WITHOUT stats is never skipped (correctness over pruning)
    commit(spark.range(150, 151).coalesce(1).selectExpr("id", "id*2 AS v"), table)
    pruned2 = read_snapshot(spark, table, prune={"id": (150, 160)})
    assert len(pruned2.inputFiles()) == 2
    assert pruned2.filter("id = 150").count() == 2


def test_snapshot_ingest_versions_and_replay(spark, tmp_path):
    """Snapshot-committing corpus ingest: every microbatch with fresh docs
    becomes one snapshot (time-travelable corpus versions), replays after
    checkpoint loss commit nothing, and the latest view deduplicates."""
    from event_stream_spark.sources.snaplog import read_snapshot, snapshots
    from event_stream_spark.streaming.dedupstream import corpus_snapshot_ingest_sink

    src = str(tmp_path / "crawl")
    table = str(tmp_path / "corpus")
    os.makedirs(src)

    def feed(name, rows):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.replace(tmp, os.path.join(src, name + ".json"))

    def start(ckpt):
        stream = spark.readStream.schema("doc_id bigint, text string").json(src)
        return (
            corpus_snapshot_ingest_sink(stream, table, str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )

    feed("b1", [(1, "alpha"), (2, "beta"), (3, "  Alpha ")])
    start("ck1").awaitTermination(120)
    feed("b2", [(4, "beta"), (5, "gamma")])
    start("ck1").awaitTermination(120)

    assert snapshots(table) == [0, 1]
    v0 = {r.doc_id for r in read_snapshot(spark, table, snapshot=0).collect()}
    v1 = {r.doc_id for r in read_snapshot(spark, table, snapshot=1).collect()}
    assert v0 == {1, 2} and v1 == {1, 2, 5}

    # checkpoint loss: the same files replay from scratch; anti-join absorbs
    # everything, so NO new snapshot is committed
    start("ck2_fresh").awaitTermination(120)
    assert snapshots(table) == [0, 1]


def test_snapshot_log_incremental_reads(spark, tmp_path):
    """CDC-lite: read_increment returns exactly the rows appended between
    two snapshots, and refuses to silently cross an overwrite boundary."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import commit, read_increment

    table = str(tmp_path / "tbl")

    def rng(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")

    commit(rng(0, 5), table)        # snap 0
    commit(rng(5, 12), table)       # snap 1
    commit(rng(12, 20), table)      # snap 2

    inc = read_increment(spark, table, since=0)
    assert {r.id for r in inc.collect()} == set(range(5, 20))
    inc01 = read_increment(spark, table, since=0, until=1)
    assert {r.id for r in inc01.collect()} == set(range(5, 12))
    assert read_increment(spark, table, since=2).count() == 0

    commit(rng(100, 103), table, mode="overwrite")  # snap 3 breaks the chain
    with _pytest.raises(ValueError, match="overwrite"):
        read_increment(spark, table, since=1)
    # a post-overwrite append chains cleanly from the overwrite snapshot
    commit(rng(103, 105), table)    # snap 4
    inc34 = read_increment(spark, table, since=3)
    assert {r.id for r in inc34.collect()} == {103, 104}


def test_snapshot_table_dml_roundtrip(spark, tmp_path):
    """Copy-on-write DML: merge_upsert replaces/adds by key, delete_where
    purges, compact collapses the file layout — each one atomic overwrite
    snapshot, with the prior state intact for time travel."""
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        delete_where,
        merge_upsert,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    commit(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"), table)
    commit(spark.createDataFrame([(4, "d")], "id long, v string"), table)

    n = merge_upsert(
        spark, table,
        spark.createDataFrame([(2, "B2"), (5, "e")], "id long, v string"),
        key="id",
    )
    assert n == 2
    got = {r.id: r.v for r in read_snapshot(spark, table).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d", 5: "e"}
    # pre-merge state is time-travelable
    old = {r.id: r.v for r in read_snapshot(spark, table, snapshot=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c", 4: "d"}

    delete_where(spark, table, "id >= 4")
    assert {r.id for r in read_snapshot(spark, table).collect()} == {1, 2, 3}

    before_files = len(read_snapshot(spark, table).inputFiles())
    compact(spark, table, target_files=1)
    latest = read_snapshot(spark, table)
    assert len(latest.inputFiles()) == 1 <= before_files
    assert {r.id: r.v for r in latest.collect()} == {1: "a", 2: "B2", 3: "c"}
    assert snapshots(table) == [0, 1, 2, 3, 4]


def test_snapshot_branch_merge_lifecycle(spark, tmp_path):
    """Data branches: commits on a branch are invisible to main; a
    three-way merge lands the branch's net effect (appends AND a
    copy-on-write delete) onto a main that moved independently; the
    change feed surfaces merged rows; time travel still sees pre-merge
    states; dropping the merged branch strands nothing (merged files are
    hard-linked into main before the merge commit publishes)."""
    from event_stream_spark.sources.snapbranch import (
        create_branch,
        drop_branch,
        list_branches,
        merge_branch,
    )
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where,
        read_changes,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)
    commit(df(10, 20), table)

    bt = create_branch(table, "exp")
    assert list_branches(table) == ["exp"]
    # branch-only work: delete some base rows, append new ones
    delete_where(spark, bt, "k < 3")
    commit(df(100, 110), bt)
    assert {r.k for r in read_snapshot(spark, bt).collect()} == (
        set(range(3, 20)) | set(range(100, 110))
    )
    # main is untouched by branch commits...
    assert {r.k for r in read_snapshot(spark, table).collect()} == set(range(20))
    # ...and moves independently (no overlap with the branch's rewrites)
    commit(df(200, 205), table)
    pre_merge_head = snapshots(table)[-1]

    m = merge_branch(spark, table, "exp")
    got = {r.k for r in read_snapshot(spark, table).collect()}
    assert got == set(range(3, 20)) | set(range(100, 110)) | set(range(200, 205))
    # time travel: pre-merge main intact
    pre = {r.k for r in read_snapshot(spark, table, snapshot=pre_merge_head).collect()}
    assert pre == set(range(20)) | set(range(200, 205))
    # the change feed carries the merge's net effect as ordinary changes
    ch = read_changes(spark, table, since=m - 1, until=m)
    ins = {r.k for r in ch.filter("_change_type = 'insert'").collect()}
    assert set(range(100, 110)) <= ins
    dels = {r.k for r in ch.filter("_change_type = 'delete'").collect()}
    assert {0, 1, 2} <= dels
    # dropping the merged branch must not strand main's merged files
    drop_branch(table, "exp")
    assert list_branches(table) == []
    assert {r.k for r in read_snapshot(spark, table).collect()} == got


def test_branch_merge_carries_deletion_vectors(spark, tmp_path):
    """A branch-side delete_where_dv MODIFIES a base entry in place (same
    parquet path, new DV sidecar in the branch dir).  merge_branch must
    treat it as a modification — conflict-checked against main, the DV
    sidecar hard-linked into main — so merged main hides exactly the
    branch-deleted rows, and dropping the branch cannot strand the DV."""
    from event_stream_spark.sources.snapbranch import (
        create_branch,
        drop_branch,
        merge_branch,
    )
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where_dv,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)
    bt = create_branch(table, "dv")
    delete_where_dv(spark, bt, "k % 3 = 0")
    assert {r.k for r in read_snapshot(spark, bt).collect()} == {
        k for k in range(10) if k % 3
    }
    merge_branch(spark, table, "dv")
    drop_branch(table, "dv")
    got = {r.k for r in read_snapshot(spark, table).collect()}
    assert got == {k for k in range(10) if k % 3}


def test_stream_into_branch_then_merge(spark, tmp_path):
    """Composition: a streaming query ingests exactly-once INTO A BRANCH
    (a branch is just a table path, so snapsink composes unchanged);
    main never observes the stream until merge_branch lands its net
    effect atomically — the 'experiment on live data' loop."""
    import time

    from event_stream_spark.sources.snapbranch import create_branch, merge_branch
    from event_stream_spark.sources.snaplog import (
        commit,
        read_snapshot,
        snap_count,
    )
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    table = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"
    commit(
        spark.createDataFrame([(i, f"base{i}") for i in range(10)], schema),
        table,
    )
    bt = create_branch(table, "ingest")

    spark.createDataFrame(
        [(i, f"row{i}") for i in range(100, 120)], schema
    ).coalesce(2).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_into_snaptable(
        stream, bt, ckpt, app_id="exp", trigger_available_now=False
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        for _ in range(200):
            if not spark.streams.active:
                break
            time.sleep(0.1)

    assert snap_count(bt) == 30
    assert snap_count(table) == 10  # main blind to the stream
    merge_branch(spark, table, "ingest")
    got = {r.k for r in read_snapshot(spark, table).collect()}
    assert got == set(range(10)) | set(range(100, 120))


def test_branch_rebase_then_merge(spark, tmp_path):
    """rebase_branch re-points a stale branch onto main's moved head:
    main's net changes since the old base (an append AND a copy-on-write
    delete) apply to the branch; post-rebase branch commits work; a
    later merge diffs only the branch's own work against the NEW base
    (the base pointer is found by scanning back to the rebase manifest).
    A rebase where both sides touched the same file refuses."""
    import pytest as _pytest

    from event_stream_spark.sources.snapbranch import (
        MergeConflict,
        create_branch,
        merge_branch,
        rebase_branch,
    )
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)
    bt = create_branch(table, "exp")
    commit(df(100, 105), bt)
    # main moves: an append and a base-file rewrite
    commit(df(200, 205), table)
    delete_where(spark, table, "k = 1")

    rebase_branch(spark, table, "exp")
    got = {r.k for r in read_snapshot(spark, bt).collect()}
    assert got == (set(range(10)) - {1}) | set(range(100, 105)) | set(
        range(200, 205)
    )
    # post-rebase branch commit (drops cloned_from from the head
    # manifest — merge must scan back to the rebase commit for the base)
    commit(df(300, 305), bt)
    # main moves again, disjointly
    commit(df(400, 405), table)
    merge_branch(spark, table, "exp")
    got = {r.k for r in read_snapshot(spark, table).collect()}
    assert got == (set(range(10)) - {1}) | set(range(100, 105)) | set(
        range(200, 205)
    ) | set(range(300, 305)) | set(range(400, 405))

    # both-sides-touched refuses to rebase
    commit(df(0, 10), str(tmp_path / "t2"))
    create_branch(str(tmp_path / "t2"), "b")
    delete_where(spark, str(tmp_path / "t2") + "@b", "k = 2")
    delete_where(spark, str(tmp_path / "t2"), "k = 7")
    with _pytest.raises(MergeConflict):
        rebase_branch(spark, str(tmp_path / "t2"), "b")


def test_concurrent_branch_merges_serialize(spark, tmp_path):
    """Two non-conflicting branches merged CONCURRENTLY: the loser of the
    snapshot-claim race re-diffs against the new head and retries
    (expected_parent + CommitConflict), so both merges land and the final
    state is base ∪ A ∪ B with exactly two merge commits."""
    import threading

    from event_stream_spark.sources.snapbranch import create_branch, merge_branch
    from event_stream_spark.sources.snaplog import (
        commit,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)
    for name, lo in (("a", 100), ("b", 200)):
        bt = create_branch(table, name)
        commit(df(lo, lo + 5), bt)

    errs: list = []

    def do_merge(name):
        try:
            merge_branch(spark, table, name)
        except Exception as exc:  # surfaces in the main thread
            errs.append((name, exc))

    ts = [threading.Thread(target=do_merge, args=(n,)) for n in ("a", "b")]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    got = {r.k for r in read_snapshot(spark, table).collect()}
    assert got == set(range(10)) | set(range(100, 105)) | set(range(200, 205))
    assert len(snapshots(table)) == 3  # base + two serialized merges


def test_concurrent_row_merges_serialize(spark, tmp_path):
    """Two key-disjoint ROW-LEVEL merges racing: the loser of the
    snapshot claim re-reads the new head and re-merges against it
    (expected_snapshot + CommitConflict inside merge_branch_rows), so
    both land and the final state carries BOTH branches' updates."""
    import threading

    from event_stream_spark.sources.snapbranch import (
        create_branch,
        merge_branch_rows,
    )
    from event_stream_spark.sources.snaplog import (
        commit,
        merge_upsert,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    rows = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "id AS v"
    )
    commit(rows(0, 20), table, stats_cols=["k"])
    for name, keys in (("a", (1, 3)), ("b", (12, 14))):
        bt = create_branch(table, name)
        upd = spark.createDataFrame(
            [(k, k + 1000) for k in keys], "k long, v long"
        )
        merge_upsert(spark, bt, upd, key="k", stats_cols=["k"])

    errs: list = []

    def do_merge(name):
        try:
            merge_branch_rows(spark, table, name, key="k")
        except Exception as exc:
            errs.append((name, exc))

    ts = [threading.Thread(target=do_merge, args=(n,)) for n in ("a", "b")]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    got = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    want = {(k, k) for k in range(20) if k not in (1, 3, 12, 14)}
    want |= {(k, k + 1000) for k in (1, 3, 12, 14)}
    assert got == want


def test_vacuum_spares_branch_referenced_files(spark, tmp_path):
    """vacuum on MAIN must treat files referenced by any live branch as
    live: after main compacts (orphaning its pre-compact files from its
    own manifests), a vacuum(keep_last=1, ttl=0) may not delete the files
    the branch still reads; dropping the branch then frees them."""
    from event_stream_spark.sources.snapbranch import create_branch, drop_branch
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)
    bt = create_branch(table, "exp")
    # main rewrites everything: its old files become main-unreachable
    compact(spark, table, target_files=1)
    removed = vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert removed == []  # the branch still references the originals
    assert {r.k for r in read_snapshot(spark, bt).collect()} == set(range(10))
    drop_branch(table, "exp")
    removed = vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert removed  # now truly dead
    assert {r.k for r in read_snapshot(spark, table).collect()} == set(range(10))


def test_snapshot_branch_merge_conflicts(spark, tmp_path):
    """Merge conflict detection: a file rewritten on BOTH sides since the
    base refuses to merge; schema diverging on both sides refuses; a
    branch-only constraint merges and is enforced on main afterwards."""
    import pytest as _pytest

    from event_stream_spark.sources.snapbranch import (
        MergeConflict,
        create_branch,
        merge_branch,
    )
    from event_stream_spark.sources.snaplog import (
        ConstraintViolation,
        commit,
        delete_where,
        set_constraint,
    )

    table = str(tmp_path / "tbl")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    commit(df(0, 10), table)

    create_branch(table, "exp")
    delete_where(spark, table + "@exp", "k = 1")  # branch rewrites the file
    delete_where(spark, table, "k = 7")  # main rewrites the SAME file
    with _pytest.raises(MergeConflict, match="removed or rewritten|modified"):
        merge_branch(spark, table, "exp")

    # branch-only constraint change merges cleanly and binds main
    create_branch(table, "cons")
    set_constraint(spark, table + "@cons", "k_nonneg", "k >= 0")
    merge_branch(spark, table, "cons")
    with _pytest.raises(ConstraintViolation):
        commit(spark.createDataFrame([(-5,)], "k long"), table)
    commit(df(20, 22), table)  # conforming rows still land


def test_branch_merge_row_level_resolution(spark, tmp_path):
    """Row-level three-way merge (merge_branch resolve='rows'): file-level
    granularity false-positives when both sides touch one hot file — row
    resolution merges disjoint-key changes cleanly, refuses only true
    same-key divergence (with sample keys in the error), resolves it under
    prefer='ours'/'theirs', records a writer CDF change set, and carries
    untouched files verbatim (file-targeted publication)."""
    import pytest as _pytest

    from event_stream_spark.sources.snapbranch import (
        MergeConflict,
        create_branch,
        drop_branch,
        merge_branch,
    )
    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        delete_where,
        merge_upsert,
        read_changes,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    rows = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "id * 10 AS v"
    )
    commit(rows(0, 10), table, stats_cols=["k"])
    commit(rows(10, 20), table, stats_cols=["k"])

    # ---- disjoint keys in the SAME file: file-level refuses, rows merge
    create_branch(table, "exp")
    bt = table + "@exp"
    delete_where(spark, bt, "k = 1")          # branch rewrites file 0
    merge_upsert(                              # ...and updates k=2 in it
        spark, bt, spark.createDataFrame([(2, 999)], "k long, v long"),
        key="k", stats_cols=["k"],
    )
    # main rewrites the SAME file (stats recorded so the later row-merge
    # can target files by key range)
    delete_where(spark, table, "k = 7", stats_cols=["k"])
    with _pytest.raises(MergeConflict):        # file granularity: conflict
        merge_branch(spark, table, "exp")
    m = merge_branch(spark, table, "exp", resolve="rows", key="k")
    got = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    want = {(k, k * 10) for k in range(20)} - {(1, 10), (7, 70), (2, 20)}
    assert got == want | {(2, 999)}
    # merge attribution + writer-recorded CDF
    man = _read_manifest(table, m)
    assert man["merged_branch"]["mode"] == "rows"
    ch = read_changes(spark, table, since=m - 1, until=m)
    assert {r.k for r in ch.filter("_change_type = 'delete'").collect()} == {1}
    assert {
        (r.k, r.v)
        for r in ch.filter("_change_type = 'update_postimage'").collect()
    } == {(2, 999)}
    # file-targeted: the second commit's file (k 10..19, untouched by the
    # delta span) is carried verbatim into the merge manifest
    pre_paths = {e["path"] for e in _read_manifest(table, m - 1)["files"]}
    post_paths = {e["path"] for e in man["files"]}
    assert any(
        p in post_paths for p in pre_paths
    ), "expected at least one untouched file carried verbatim"
    drop_branch(table, "exp")

    # ---- same-key divergence: refuses with the key named; prefer resolves
    create_branch(table, "dup")
    upd = lambda v: spark.createDataFrame([(5, v)], "k long, v long")  # noqa: E731
    merge_upsert(spark, table + "@dup", upd(111), key="k", stats_cols=["k"])
    merge_upsert(spark, table, upd(222), key="k", stats_cols=["k"])
    with _pytest.raises(MergeConflict, match="divergent"):
        merge_branch(spark, table, "dup", resolve="rows", key="k")
    # ours: main's value wins, branch change dropped — merge is a no-op
    head_before = snapshots(table)[-1]
    merge_branch(spark, table, "dup", resolve="rows", key="k", prefer="ours")
    assert read_snapshot(spark, table).filter("k = 5").first().v == 222
    assert snapshots(table)[-1] == head_before  # empty delta: no commit
    # theirs: branch value wins
    merge_branch(spark, table, "dup", resolve="rows", key="k", prefer="theirs")
    assert read_snapshot(spark, table).filter("k = 5").first().v == 111
    drop_branch(table, "dup")


def test_branch_change_feed_stream_and_batch(spark, tmp_path):
    """Branch-aware change feeds: format("snapcdf").option("branch", ...)
    tails a BRANCH's feed (offsets = branch snapshot ids) through its
    commit/rebase lifecycle without main's feed moving; after the merge,
    main's CDF window covering the merge commit equals the batch diff of
    the pre/post-merge snapshots; read_changes(branch=) is the batch twin
    of the same branch feed."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snapbranch import (
        create_branch,
        merge_branch,
        rebase_branch,
    )
    from event_stream_spark.sources.snaplog import (
        commit,
        read_changes,
        read_snapshot,
        snapshots,
    )

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    rows = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "id * 10 AS v"
    )
    commit(rows(0, 10), table)
    create_branch(table, "exp")
    bt = table + "@exp"
    commit(rows(100, 105), bt)  # branch-only commit

    def drain_branch():
        q = (
            spark.readStream.format("snapcdf")
            .option("table_path", table)
            .option("branch", "exp")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_branch()
    got = spark.read.parquet(out)
    # branch feed: clone snapshot (base rows) + the branch's own commit
    assert {r.k for r in got.filter("_change_type = 'insert'").collect()} == (
        set(range(10)) | set(range(100, 105))
    )
    # batch twin over the same log
    batch = read_changes(spark, table, since=-1, branch="exp")
    assert sorted(r.k for r in batch.collect()) == sorted(
        r.k for r in got.collect()
    )

    # main moves; rebase restamps the branch base; the SAME checkpointed
    # branch consumer keeps tailing across the rebase commit
    commit(rows(200, 202), table)
    rebase_branch(spark, table, "exp")
    drain_branch()
    after = spark.read.parquet(out)
    assert {
        r.k for r in after.filter("_change_type = 'insert'").collect()
    } >= set(range(200, 202))  # the rebase applied main's net changes

    # merge: main's CDF window over the merge commit == batch state diff
    pre_merge = snapshots(table)[-1]
    m = merge_branch(spark, table, "exp")
    ch = read_changes(spark, table, since=pre_merge, until=m)
    ins = {r.k for r in ch.filter("_change_type = 'insert'").collect()}
    dels = {r.k for r in ch.filter("_change_type = 'delete'").collect()}
    pre_state = {
        r.k for r in read_snapshot(spark, table, snapshot=pre_merge).collect()
    }
    post_state = {r.k for r in read_snapshot(spark, table).collect()}
    assert post_state == (pre_state | ins) - (dels - ins)
    assert set(range(100, 105)) <= ins  # the branch's net effect surfaced


def test_snaptable_stream_tails_commits(spark, tmp_path):
    """format("snaptable"): a consumer tails a snapshot table — history in
    the first batch, later commits as deltas after a checkpointed restart,
    and an overwrite stops the stream instead of silently skipping it."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import commit

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    def rng(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")

    commit(rng(0, 5), table)
    commit(rng(5, 9), table)

    def run_once():
        stream = spark.readStream.format("snaptable").option(
            "table_path", table
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert {r.id for r in spark.read.parquet(out).collect()} == set(range(9))

    commit(rng(9, 12), table)
    run_once()  # same checkpoint: only the delta arrives
    got = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(got) == list(range(12)) and len(got) == 12  # no re-delivery

    # an overwrite breaks the chain: the restarted stream fails loudly
    commit(rng(100, 101), table, mode="overwrite")
    stream = spark.readStream.format("snaptable").option("table_path", table).load()
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="overwrite"):
        q.awaitTermination(120)


def test_snaptable_batch_read_time_travel(spark, tmp_path):
    """spark.read.format("snaptable") reads the latest snapshot by default
    and any pinned one via .option("snapshot", n)."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import commit

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    commit(spark.range(4).selectExpr("id", "id*3 AS v"), table)
    commit(spark.range(4, 10).selectExpr("id", "id*3 AS v"), table)

    latest = spark.read.format("snaptable").option("table_path", table).load()
    assert latest.count() == 10 and set(latest.columns) == {"id", "v"}
    pinned = (
        spark.read.format("snaptable")
        .option("table_path", table)
        .option("snapshot", 0)
        .load()
    )
    assert {r.id for r in pinned.collect()} == {0, 1, 2, 3}


def test_snapshot_dml_aborts_on_concurrent_commit(spark, tmp_path):
    """A read-modify-write transaction must ABORT (CommitConflict) when a
    concurrent append lands between its read and its commit — never publish
    a result computed from stale state."""
    import pytest as _pytest

    from event_stream_spark.sources import snaplog
    from event_stream_spark.sources.snaplog import (
        CommitConflict,
        commit,
        delete_where,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    commit(spark.createDataFrame([(1, "a")], "id long, v string"), table)

    # interleave: fire a concurrent append from inside the transaction
    # window — after the DML's manifest read (the base every targeted or
    # full path starts from), before its commit
    real_rm = snaplog._read_manifest
    fired = []

    def racing_rm(tbl_, n_):
        out = real_rm(tbl_, n_)
        if not fired:
            fired.append(1)
            commit(
                spark.createDataFrame(
                    [(99, "concurrent")], "id long, v string"
                ),
                table,
            )
        return out

    snaplog._read_manifest = racing_rm
    try:
        with _pytest.raises(CommitConflict):
            delete_where(spark, table, "id = 1")
    finally:
        snaplog._read_manifest = real_rm
    # the concurrent append survived; nothing was deleted
    got = {r.id for r in read_snapshot(spark, table).collect()}
    assert got == {1, 99}


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are KEPT."""
    from event_stream_spark.sources.snaplog import commit, delete_where, read_snapshot

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(1, "spam"), (2, "ok"), (3, None)], "id long, v string"
        ),
        table,
    )
    delete_where(spark, table, "v = 'spam'")
    got = {r.id for r in read_snapshot(spark, table).collect()}
    assert got == {2, 3}  # the NULL-v row must survive


def test_snapshot_schema_evolution_additive_only(spark, tmp_path):
    """Schema is part of the table contract: drift is rejected, additive
    evolution needs the explicit flag, merged reads NULL-fill old rows,
    and the snaptable source serves the evolved schema."""
    import pytest as _pytest

    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import commit, read_snapshot

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    commit(spark.createDataFrame([(1, "a")], "id long, v string"), table)

    with _pytest.raises(ValueError, match="schema mismatch"):  # drift: rename
        commit(spark.createDataFrame([(2, "b")], "id long, w string"), table)
    with _pytest.raises(ValueError, match="schema mismatch"):  # no flag
        commit(
            spark.createDataFrame([(2, "b", 1.5)], "id long, v string, q double"),
            table,
        )
    commit(
        spark.createDataFrame([(2, "b", 1.5)], "id long, v string, q double"),
        table,
        allow_added_columns=True,
    )
    rows = {r.id: r for r in read_snapshot(spark, table).collect()}
    assert rows[1].q is None and rows[2].q == 1.5

    df = spark.read.format("snaptable").option("table_path", table).load()
    assert set(df.columns) == {"id", "v", "q"}
    got = {r.id: r.q for r in df.collect()}
    assert got == {1: None, 2: 1.5}


def test_snapshot_vacuum_spares_inflight_commit_files(spark, tmp_path):
    """Vacuum racing a concurrent commit (ADVICE r4): commit writes data
    files BEFORE publishing the manifest, so a vacuum running in that
    window sees them as unreferenced.  The mtime TTL must spare them —
    only ttl=0 (explicit no-concurrent-writers) removes fresh orphans."""
    import glob
    import os

    from event_stream_spark.sources.snaplog import commit, read_snapshot, vacuum

    table = str(tmp_path / "tbl")
    commit(spark.range(0, 10).selectExpr("id", "id*2 AS v"), table)

    # simulate an in-flight commit: data files on disk, manifest not yet
    # published (exactly the state between commit()'s write and its link)
    inflight = str(tmp_path / "tbl" / "data" / "c000000000001-inflight")
    spark.range(10, 20).selectExpr("id", "id*2 AS v").write.parquet(inflight)
    inflight_files = set(glob.glob(f"{inflight}/*.parquet"))
    assert inflight_files

    removed = vacuum(table, keep_last=1)  # default TTL: young files spared
    assert not (set(removed) & inflight_files)
    assert all(os.path.exists(p) for p in inflight_files)
    # the racing commit can still publish its manifest and be read whole
    assert read_snapshot(spark, table).count() == 10

    removed0 = vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert set(removed0) >= inflight_files  # explicit opt-out sweeps them


def test_snapshot_all_pruned_schema_is_evolved(spark, tmp_path):
    """All-pruned read_snapshot (ADVICE r4): the empty result's schema must
    come from the NEWEST file, which carries additively-added columns —
    callers selecting/filtering an evolved column must not hit
    AnalysisException."""
    from event_stream_spark.sources.snaplog import commit, read_snapshot

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        table, stats_cols=["id"],
    )
    commit(
        spark.createDataFrame([(2, "b", 1.5)], "id long, v string, q double"),
        table, stats_cols=["id"], allow_added_columns=True,
    )
    empty = read_snapshot(spark, table, prune={"id": (1000, 2000)})
    assert empty.count() == 0
    assert "q" in empty.columns
    assert empty.filter("q > 1.0").count() == 0  # evolved column usable


def test_snapshot_dml_on_empty_table_raises_value_error(spark, tmp_path):
    """DML on a never-committed table (ADVICE r4): same ValueError contract
    as read_snapshot, not a bare IndexError."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        compact,
        delete_where,
        merge_upsert,
    )

    table = str(tmp_path / "never")
    upd = spark.createDataFrame([(1, "x")], "id long, v string")
    with _pytest.raises(ValueError, match="no snapshots"):
        merge_upsert(spark, table, upd, key="id")
    with _pytest.raises(ValueError, match="no snapshots"):
        delete_where(spark, table, "id = 1")
    with _pytest.raises(ValueError, match="no snapshots"):
        compact(spark, table)


def test_snapshot_string_stats_never_prune(spark, tmp_path):
    """String min/max are not order-faithful across writers (byte-wise
    footer ordering, possible max truncation — ADVICE r4), so stats_cols
    records NUMERIC stats only; pruning on a string column keeps every
    file (safe no-op) rather than risking lost rows."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame([(1, "alpha"), (2, "zeta")], "id long, v string"),
        table, stats_cols=["id", "v"],
    )
    man = _json.load(open(_manifest_path(table, 0)))
    for entry in man["files"]:
        st = entry.get("stats") or {}
        assert "id" in st  # numeric stats recorded
        assert "v" not in st  # string stats refused
    # prune on the string column: no stats → every file kept, rows intact
    assert read_snapshot(spark, table, prune={"v": ("m", "n")}).count() == 2


def test_snapshot_reader_pinned_during_compaction(spark, tmp_path):
    """A reader pinned at a snapshot keeps its exact row set while compact()
    publishes an overwrite and while a TTL-respecting vacuum runs — the
    retention window that makes maintenance safe under live readers."""
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        read_snapshot,
        snapshots,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        commit(
            spark.range(lo, lo + 50).selectExpr("id", "id*2 AS v").repartition(4),
            table,
        )
    base = snapshots(table)[-1]
    pinned = read_snapshot(spark, table, snapshot=base)  # plan resolved now

    new_id = compact(spark, table, target_files=1)
    assert new_id == base + 1
    # maintenance vacuum with the concurrency-safe TTL: pinned files young
    vacuum(table, keep_last=1)
    assert pinned.count() == 150  # pinned plan still reads its file set
    assert {r.id for r in pinned.collect()} == (
        set(range(0, 50)) | set(range(100, 150)) | set(range(200, 250))
    )
    assert read_snapshot(spark, table).count() == 150


_CONTENTION_WORKER = r"""
import sys
sys.path.insert(0, "/root/repo")
table, lo_str, n_str = sys.argv[1], sys.argv[2], sys.argv[3]
lo, n_commits = int(lo_str), int(n_str)
from event_stream_spark.session import get_spark
from event_stream_spark.sources.snaplog import commit
spark = get_spark(f"contender-{lo}", cpus=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
for k in range(n_commits):
    base = lo + k * 100
    commit(spark.range(base, base + 100).selectExpr("id", "id*2 AS v"), table)
spark.stop()
print("OK")
"""


def test_snapshot_multiprocess_commit_contention(spark, tmp_path):
    """Two WRITER PROCESSES (separate Spark sessions, separate JVMs) race
    plain appends onto one table (VERDICT r4 ask #8).  The os.link claim
    must serialize them across process boundaries: contiguous snapshot
    ids, every append present exactly once, every manifest whole."""
    import os
    import subprocess
    import sys

    from event_stream_spark.sources.snaplog import read_snapshot, snapshots

    table = str(tmp_path / "tbl")
    n_each = 3
    env = dict(os.environ, SPARK_DRIVER_MEM="1500m")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CONTENTION_WORKER, table, str(lo), str(n_each)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        )
        for lo in (0, 1_000_000)
    ]
    for p in procs:
        out, _ = p.communicate(timeout=300)
        assert p.returncode == 0 and b"OK" in out

    assert snapshots(table) == list(range(2 * n_each))  # contiguous ids
    rows = read_snapshot(spark, table).collect()
    ids = sorted(r.id for r in rows)
    expect = sorted(
        x
        for lo in (0, 1_000_000)
        for k in range(n_each)
        for x in range(lo + k * 100, lo + k * 100 + 100)
    )
    assert ids == expect  # nothing lost, nothing duplicated


def test_merge_upsert_is_file_targeted(spark, tmp_path):
    """With key stats in the manifest, merge_upsert rewrites ONLY the
    files whose key range overlaps the update batch: untouched files are
    carried into the new manifest byte-identically (same paths, same
    stats), and the merged row set is exactly right."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        merge_upsert,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    # three appends with DISJOINT key ranges → distinct stats per file set
    for lo in (0, 1000, 2000):
        commit(
            spark.range(lo, lo + 100).selectExpr("id", "id*2 AS v").coalesce(1),
            table, stats_cols=["id"],
        )
    base = snapshots(table)[-1]
    before = _read_manifest(table, base)["files"]
    assert len(before) == 3

    # update keys 1000-1009: only the middle file overlaps
    upd = spark.range(1000, 1010).selectExpr("id", "id*100 AS v")
    new_id = merge_upsert(spark, table, upd, key="id", stats_cols=["id"])
    after = _read_manifest(table, new_id)["files"]
    before_paths = {e["path"] for e in before}
    after_paths = {e["path"] for e in after}

    # the 0-range and 2000-range files survive VERBATIM; the middle file
    # does not; at least one fresh file appears
    lo_file = next(e for e in before if e["stats"]["id"][0] == 0)
    hi_file = next(e for e in before if e["stats"]["id"][0] == 2000)
    mid_file = next(e for e in before if e["stats"]["id"][0] == 1000)
    assert lo_file["path"] in after_paths and hi_file["path"] in after_paths
    assert mid_file["path"] not in after_paths
    assert after_paths - before_paths  # fresh rewritten file(s)
    # carried entries keep their stats for future pruning
    carried = next(e for e in after if e["path"] == lo_file["path"])
    assert carried.get("stats") == lo_file.get("stats")

    df = read_snapshot(spark, table)
    assert df.count() == 300
    assert df.filter("id = 1005").first().v == 100500  # updated
    assert df.filter("id = 5").first().v == 10  # untouched rows intact
    assert df.filter("id = 1050").first().v == 2100  # same-file non-key rows

    # time travel still shows the pre-merge values
    old = read_snapshot(spark, table, snapshot=base)
    assert old.filter("id = 1005").first().v == 2010


def test_merge_upsert_without_stats_falls_back_to_full_rewrite(spark, tmp_path):
    """No key stats recorded → every file is conservatively rewritten,
    preserving the original whole-table CoW semantics."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        merge_upsert,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    for lo in (0, 1000):
        commit(
            spark.range(lo, lo + 50).selectExpr("id", "id*2 AS v").coalesce(1),
            table,
        )
    before_paths = {
        e["path"]
        for e in _read_manifest(table, snapshots(table)[-1])["files"]
    }
    upd = spark.createDataFrame([(5, -1)], "id long, v long")
    new_id = merge_upsert(spark, table, upd, key="id")
    after_paths = {
        e["path"] for e in _read_manifest(table, new_id)["files"]
    }
    assert not (before_paths & after_paths)  # full rewrite, nothing carried
    df = read_snapshot(spark, table)
    assert df.count() == 100 and df.filter("id = 5").first().v == -1


def test_delete_where_prune_hint_targets_files(spark, tmp_path):
    """delete_where with a prune hint rewrites only files whose stats can
    overlap the asserted range — others are carried verbatim; the
    predicate still filters every rewritten row."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        delete_where,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    for lo in (0, 1000, 2000):
        commit(
            spark.range(lo, lo + 100).selectExpr("id", "id*2 AS v").coalesce(1),
            table, stats_cols=["id"],
        )
    before = _read_manifest(table, snapshots(table)[-1])["files"]
    new_id = delete_where(
        spark, table, "id >= 1000 AND id < 1010",
        stats_cols=["id"], prune={"id": (1000, 1009)},
    )
    after = _read_manifest(table, new_id)["files"]
    after_paths = {e["path"] for e in after}
    lo_file = next(e for e in before if e["stats"]["id"][0] == 0)
    hi_file = next(e for e in before if e["stats"]["id"][0] == 2000)
    mid_file = next(e for e in before if e["stats"]["id"][0] == 1000)
    assert lo_file["path"] in after_paths and hi_file["path"] in after_paths
    assert mid_file["path"] not in after_paths

    df = read_snapshot(spark, table)
    assert df.count() == 290
    assert df.filter("id >= 1000 AND id < 1010").count() == 0
    assert df.filter("id = 1050").first().v == 2100


def test_snapshot_bloom_point_lookup_skips_files(spark, tmp_path):
    """Per-file bloom skipping: with keys SCATTERED across files every
    file's [min, max] spans the whole domain — range stats prune nothing —
    but prune_eq plans only the file(s) whose bloom may contain the key.
    No false negatives: the looked-up rows are always in the survivors."""
    from event_stream_spark.sources.snaplog import commit, read_snapshot

    table = str(tmp_path / "tbl")
    groups = {0: [1, 100, 205], 1: [2, 101, 206], 2: [3, 102, 207]}
    for g, ids in groups.items():
        commit(
            spark.createDataFrame(
                [(i, f"v{i}") for i in ids], "id long, v string"
            ).coalesce(1),
            table,
            stats_cols=["id"],
            bloom_cols=["id"],
        )

    # range stats are useless here: every file overlaps [2, 206]
    ranged = read_snapshot(spark, table, prune={"id": (101, 101)})
    assert len(ranged.inputFiles()) == 3

    probed = read_snapshot(spark, table, prune_eq={"id": 101})
    assert len(probed.inputFiles()) == 1
    assert [r.v for r in probed.filter("id = 101").collect()] == ["v101"]

    # a key in no file: everything may be pruned, schema survives
    none = read_snapshot(spark, table, prune_eq={"id": 99999})
    assert none.columns == ["id", "v"] and none.count() == 0

    # files without a bloom are always kept (skipping never loses rows)
    commit(
        spark.createDataFrame([(500, "x")], "id long, v string").coalesce(1),
        table,
    )
    kept = read_snapshot(spark, table, prune_eq={"id": 101})
    assert len(kept.inputFiles()) == 2  # the bloom hit + the bloomless file


def test_merge_upsert_bloom_targets_scattered_keys(spark, tmp_path):
    """Bloom-refined CoW targeting: a CDC batch whose keys are scattered
    across the domain overlaps every file's range, but only the files
    whose bloom may contain an update key are rewritten — the rest carry
    into the new manifest verbatim (same path, bytes never move)."""
    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        merge_upsert,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    groups = {0: [1, 100, 205], 1: [2, 101, 206], 2: [3, 102, 207]}
    for ids in groups.values():
        commit(
            spark.createDataFrame(
                [(i, f"v{i}") for i in ids], "id long, v string"
            ).coalesce(1),
            table,
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    before = {e["path"] for e in _read_manifest(table, 2)["files"]}

    n = merge_upsert(
        spark, table,
        spark.createDataFrame([(101, "UPD"), (300, "NEW")], "id long, v string"),
        key="id",
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    after = _read_manifest(table, n)["files"]
    carried = {e["path"] for e in after} & before
    # files 0 and 2 (keys 1/100/205 and 3/102/207) carry verbatim; only the
    # file holding key 101 was rewritten
    assert len(carried) == 2
    got = {r.id: r.v for r in read_snapshot(spark, table).collect()}
    assert got[101] == "UPD" and got[300] == "NEW" and got[1] == "v1"
    assert len(got) == 10
    # carried entries keep their bloom, so the next point lookup still prunes
    probed = read_snapshot(spark, table, prune_eq={"id": 205})
    assert len(probed.inputFiles()) == 1


def test_compact_zorder_restores_two_dim_pruning(spark, tmp_path):
    """compact(zorder_by=[a, b]) inside the snapshot log: microbatch-style
    appends leave files whose stats span the whole domain on both columns;
    the Z-order compaction rewrites them so manifest min/max pruning skips
    files for predicates on EITHER dimension — and the row set is
    byte-identical across the rewrite."""
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    # 4 "microbatches", each covering the FULL (a, b) domain
    rows = [(a, b, a * 1000 + b) for a in range(40) for b in range(40)]
    for i in range(4):
        batch = [r for j, r in enumerate(rows) if j % 4 == i]
        commit(
            spark.createDataFrame(batch, "a long, b long, payload long").coalesce(1),
            table,
            stats_cols=["a", "b"],
        )
    # every file overlaps every predicate before compaction
    pre_a = read_snapshot(spark, table, prune={"a": (0, 4)})
    pre_b = read_snapshot(spark, table, prune={"b": (0, 4)})
    assert len(pre_a.inputFiles()) == 4 and len(pre_b.inputFiles()) == 4

    compact(spark, table, target_files=8, zorder_by=["a", "b"], stats_cols=["a", "b"])
    post = read_snapshot(spark, table)
    assert post.count() == len(rows)
    assert sorted(tuple(r) for r in post.collect()) == sorted(rows)
    post_a = read_snapshot(spark, table, prune={"a": (0, 4)})
    post_b = read_snapshot(spark, table, prune={"b": (0, 4)})
    n_files = len(post.inputFiles())
    assert len(post_a.inputFiles()) < n_files
    assert len(post_b.inputFiles()) < n_files
    # pruned reads stay correct: add the real filter on top
    assert post_a.filter("a <= 4").count() == 5 * 40
    assert post_b.filter("b <= 4").count() == 5 * 40


def test_streaming_neardup_lsh_first_claim(spark, tmp_path):
    """Streaming MinHash-LSH near-dup detection: (1) the per-row signature
    kernel reproduces the batch relational band keys row-for-row, (2) the
    first-claim state yields exactly the collisions the full-corpus LSH
    bucketing implies, across a microbatch boundary, (3) exact duplicates
    collide on every band."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from event_stream_spark.datapipe.dedup import _MH_A, _MH_B, _MH_P
    from event_stream_spark.datapipe.text import lsh_bands, shingle_rows
    from event_stream_spark.streaming.neardup import (
        band_keys_udf,
        neardup_collisions,
    )

    base_txt = "the quick brown fox jumps over the lazy dog tonight"
    texts = {
        0: base_txt,
        1: "completely different words about snapshot logs and parquet",
        2: base_txt,  # exact dup of 0 → all bands collide
        3: "the quick brown fox jumps over the lazy cat tonight",  # near dup
        4: "another unrelated document mentioning kafka wire protocols",
        5: base_txt,  # exact dup again, arrives in batch 2
        6: "totally fresh content with nothing shared at all here",
        7: "tiny",  # < 3 words → no shingles, no buckets
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    # (1) kernel ≡ relational derivation
    bands, rows_ = 4, 4
    k = bands * rows_
    sh = shingle_rows(docs, 3)
    b = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    hashed = sh.select(
        "doc_id",
        *[((F.lit(_MH_A[i]) * b + F.lit(_MH_B[i])) % F.lit(_MH_P)).alias(f"h{i}")
          for i in range(k)],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(k)]
    ).select(
        "doc_id",
        F.array(*[F.col(f"m{i}").cast("string") for i in range(k)]).alias("sig"),
    )
    rel = {
        (r.doc_id, r.band_id, r.band_key)
        for r in sig.select(
            "doc_id",
            F.posexplode(lsh_bands(F.col("sig"), bands, rows_)).alias(
                "band_id", "band_key"
            ),
        ).collect()
    }
    kern = {
        (r.doc_id, r.band_id, r.band_key)
        for r in docs.select(
            "doc_id",
            F.posexplode(band_keys_udf()(F.col("text"))).alias(
                "band_id", "band_key"
            ),
        ).collect()
    }
    assert kern == rel

    # expected collisions: per bucket, everyone but the min doc_id
    buckets: dict[tuple, list[int]] = {}
    for d, bi, bk in kern:
        buckets.setdefault((bi, bk), []).append(d)
    expected = {
        (d, bi, min(ids))
        for (bi, _bk), ids in buckets.items()
        if len(ids) > 1
        for d in ids
        if d != min(ids)
    }

    # (2) drive the stream in two microbatches split at doc_id 5
    src = str(tmp_path / "nd_feed")
    _os.makedirs(src)

    def feed(name, lo, hi):
        tmp = str(tmp_path / (name + ".tmp"))
        with open(tmp, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
        _os.replace(tmp, _os.path.join(src, name + ".json"))

    feed("b1", 0, 5)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    got: set[tuple] = set()

    def absorb(bdf, _id):
        got.update((r.doc_id, r.band_id, r.first_doc_id) for r in bdf.collect())

    q = (
        neardup_collisions(stream)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        feed("b2", 5, 8)
        q.processAllAvailable()
    finally:
        q.stop()

    assert got == expected
    # (3) exact dups collide on all 4 bands against the original
    assert {(2, b, 0) for b in range(4)} <= got
    assert {(5, b, 0) for b in range(4)} <= got
    # the shingle-less doc never claims or collides
    assert not any(d == 7 or f == 7 for d, _b, f in got)


# ---------------------------------------------------------------------------
# deletion vectors
# ---------------------------------------------------------------------------


def test_dv_delete_no_rewrite_and_time_travel(spark, tmp_path):
    """delete_where_dv removes rows WITHOUT touching any data file: the new
    manifest carries the identical file paths plus DV sidecars, readers
    exclude the rows, and the prior snapshot still serves them."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        delete_where_dv,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
        .repartition(2),
        table,
    )
    before = {e["path"] for e in _read_manifest(table, 0)["files"]}
    mtimes = {p: __import__("os").path.getmtime(p) for p in before}
    snap = delete_where_dv(spark, table, "id IN (3, 7)")
    after_entries = _read_manifest(table, snap)["files"]
    # identical file set, bytes untouched
    assert {e["path"] for e in after_entries} == before
    for p, m in mtimes.items():
        assert __import__("os").path.getmtime(p) == m
    assert sum((e.get("dv") or {}).get("count", 0) for e in after_entries) == 2
    got = {r.id for r in read_snapshot(spark, table).collect()}
    assert got == set(range(10)) - {3, 7}
    # time travel: snapshot 0 still has every row
    assert {r.id for r in read_snapshot(spark, table, snapshot=0).collect()} == set(
        range(10)
    )
    # DV sidecars are valid JSON with sorted row positions
    for e in after_entries:
        if e.get("dv"):
            rows = _json.load(open(e["dv"]["path"]))["rows"]
            assert rows == sorted(rows)


def test_dv_deletes_union_and_null_semantics(spark, tmp_path):
    """Repeated DV deletes union their positions; NULL-predicate rows are
    kept (the delete_where contract)."""
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where_dv,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(1, "spam"), (2, "ok"), (3, None), (4, "spam")], "id long, v string"
        ).coalesce(1),
        table,
    )
    delete_where_dv(spark, table, "v = 'spam'")
    assert {r.id for r in read_snapshot(spark, table).collect()} == {2, 3}
    delete_where_dv(spark, table, "id = 2")
    assert {r.id for r in read_snapshot(spark, table).collect()} == {3}


def test_dv_stacking_read_amplification_and_compaction_gc(spark, tmp_path):
    """50 stacked DV commits must not amplify the read plan: the scan
    stays ONE broadcast anti-join (no shuffle exchange, no per-commit
    join chain), because each entry's sidecar is the UNION of all its
    deletes, not a stack.  ``compact`` then materializes everything —
    zero sidecars in the new manifest — and ``vacuum`` reclaims the 50
    accumulated sidecar files (the GC half of the GDPR-purge story)."""
    import glob as _glob
    import os as _os

    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        compact,
        delete_where_dv,
        read_snapshot,
        snapshots,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "id long, v string"
        ).repartition(4),
        table,
    )
    for i in range(50):
        delete_where_dv(spark, table, f"id = {i}")
    entries = _read_manifest(table, snapshots(table)[-1])["files"]
    # one sidecar per data file, holding the union — not 50 stacked DVs
    assert sum(1 for e in entries if e.get("dv")) <= 4
    assert sum((e.get("dv") or {}).get("count", 0) for e in entries) == 50
    df = read_snapshot(spark, table)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) == 1, plan
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert not shuffles, shuffles  # DV apply must never shuffle the scan
    assert {r.id for r in df.collect()} == set(range(50, 200))
    # 50 commits accreted 50 sidecar directories on disk
    stacked = _glob.glob(_os.path.join(table, "_dv", "*", "*.dv.json"))
    assert len(stacked) == 50
    # compact: vectors materialized, manifest carries zero sidecars …
    snap = compact(spark, table, target_files=1)
    entries = _read_manifest(table, snap)["files"]
    assert all(not e.get("dv") for e in entries)
    assert {r.id for r in read_snapshot(spark, table).collect()} == set(
        range(50, 200)
    )
    # … and the compacted scan has no join at all
    plan2 = (
        read_snapshot(spark, table)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan2, plan2
    # GC: vacuum (keep only the compacted snapshot) deletes every sidecar
    vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert _glob.glob(_os.path.join(table, "_dv", "*", "*.dv.json")) == []


def test_dv_not_resurrected_by_merge_or_compact(spark, tmp_path):
    """CoW DML over DV-carrying files applies the vectors: merge_upsert
    must not resurrect a DV-deleted row when it rewrites the file, and
    compact materializes the vectors (row set identical, no dv entries)."""
    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        compact,
        delete_where_dv,
        merge_upsert,
        read_snapshot,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).coalesce(1),
        table,
        stats_cols=["id"],
    )
    delete_where_dv(spark, table, "id = 5")
    # upsert touches the (single) file that carries the DV
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(2, "NEW")], "id long, v string"),
        key="id",
        stats_cols=["id"],
    )
    rows = {r.id: r.v for r in read_snapshot(spark, table).collect()}
    assert 5 not in rows and rows[2] == "NEW" and len(rows) == 7
    # compact: same rows, vectors materialized away
    snap = compact(spark, table, target_files=1)
    assert {r.id for r in read_snapshot(spark, table).collect()} == set(rows)
    assert all(not e.get("dv") for e in _read_manifest(table, snap)["files"])


def test_dv_vacuum_and_increment_semantics(spark, tmp_path):
    """Vacuum keeps DV sidecars referenced by kept snapshots and sweeps
    unreferenced ones; read_increment across a DV commit raises (it is an
    overwrite — deletes are not an append delta)."""
    import os as _os

    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        delete_where_dv,
        read_increment,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame([(i,) for i in range(6)], "id long").coalesce(1),
        table,
    )
    delete_where_dv(spark, table, "id = 0")  # snapshot 1 (dv A)
    delete_where_dv(spark, table, "id = 1")  # snapshot 2 (dv B supersedes A)
    dv_a = next(
        e["dv"]["path"] for e in _read_manifest(table, 1)["files"] if e.get("dv")
    )
    dv_b = next(
        e["dv"]["path"] for e in _read_manifest(table, 2)["files"] if e.get("dv")
    )
    with _pytest.raises(ValueError, match="overwrite"):
        read_increment(spark, table, since=0)
    vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert not _os.path.exists(dv_a)  # only snapshot 2 survives
    assert _os.path.exists(dv_b)
    assert {r.id for r in read_snapshot(spark, table).collect()} == {2, 3, 4, 5}


def test_snap_count_metadata_only(spark, tmp_path):
    """snap_count serves exact counts from manifest metadata (commit-time
    row counts minus DV counts) — including after appends, DV deletes, and
    for manifests predating the rows field (footer fallback)."""
    import json as _json

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        delete_where_dv,
        read_snapshot,
        snap_count,
    )

    table = str(tmp_path / "tbl")
    commit(spark.createDataFrame([(i,) for i in range(7)], "id long"), table)
    commit(spark.createDataFrame([(i,) for i in range(7, 10)], "id long"), table)
    assert snap_count(table) == 10
    assert snap_count(table, snapshot=0) == 7
    delete_where_dv(spark, table, "id >= 8")
    assert snap_count(table) == 8
    assert snap_count(table) == read_snapshot(spark, table).count()
    # legacy manifest without per-entry rows: strip them, expect fallback
    m = _json.load(open(_manifest_path(table, 0)))
    for e in m["files"]:
        e.pop("rows", None)
    _json.dump(m, open(_manifest_path(table, 0), "w"))
    assert snap_count(table, snapshot=0) == 7


def test_snapshot_timestamp_travel_and_history(spark, tmp_path):
    """TIMESTAMP AS OF resolution + DESCRIBE HISTORY surface: commits
    carry wall-clock timestamps, as_of_ts resolves between them, history
    reconciles ids/ops/row deltas metadata-only — including after a DV
    delete and for legacy manifests without the ts field (mtime fallback)."""
    import json as _json
    import time as _time

    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        _manifest_path,
        _read_manifest,
        commit,
        delete_where_dv,
        history,
        read_snapshot,
        snapshot_as_of,
    )

    table = str(tmp_path / "tbl")
    commit(spark.createDataFrame([(i,) for i in range(4)], "id long"), table)
    t_mid = _time.time()
    _time.sleep(0.05)
    commit(spark.createDataFrame([(9,)], "id long"), table)
    delete_where_dv(spark, table, "id = 0")

    assert snapshot_as_of(table, t_mid) == 0
    assert snapshot_as_of(table, _time.time()) == 2
    with _pytest.raises(ValueError, match="as of"):
        snapshot_as_of(table, 1.0)  # 1970: before the first commit
    assert {r.id for r in read_snapshot(spark, table, as_of_ts=t_mid).collect()} == {
        0, 1, 2, 3
    }
    with _pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot(spark, table, snapshot=0, as_of_ts=t_mid)

    h = history(table)
    assert [x["snapshot"] for x in h] == [0, 1, 2]
    assert [x["op"] for x in h] == ["append", "append", "overwrite"]
    assert [x["rows"] for x in h] == [4, 5, 4]
    assert [x["row_delta"] for x in h] == [4, 1, -1]
    assert h[0]["ts"] <= t_mid <= h[1]["ts"]

    # legacy manifest without ts: mtime fallback still orders correctly
    # (restore the original commit instant — the rewrite itself bumps it)
    import os as _os

    m = _json.load(open(_manifest_path(table, 0)))
    legacy_ts = m.pop("ts")
    _json.dump(m, open(_manifest_path(table, 0), "w"))
    _os.utime(_manifest_path(table, 0), (legacy_ts, legacy_ts))
    assert snapshot_as_of(table, t_mid) == 0


def test_change_feed_recorded_relations_and_replay(spark, tmp_path):
    """End-to-end CHANGE DATA FEED: DML with change_feed=True records exact
    change relations; compaction (data_change=False) contributes ZERO feed
    rows; and replaying the feed over the base snapshot reconstructs the
    latest snapshot exactly — the invariant every CDF consumer relies on."""
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        delete_where,
        delete_where_dv,
        merge_upsert,
        read_changes,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).repartition(2),
        table,
    )
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10, 15)], "id long, v string"
        ),
        table,
        mode="append",
    )
    # plain append synthesizes inserts for exactly the added files
    ch1 = read_changes(spark, table, since=0, until=1).collect()
    assert {r._change_type for r in ch1} == {"insert"}
    assert {r.id for r in ch1} == set(range(10, 15))
    assert all(r._commit_version == 1 for r in ch1)

    s2 = merge_upsert(
        spark,
        table,
        spark.createDataFrame([(3, "upd3"), (20, "v20")], "id long, v string"),
        key="id",
        change_feed=True,
    )
    ch2 = read_changes(spark, table, since=1, until=s2).collect()
    by_type = {}
    for r in ch2:
        by_type.setdefault(r._change_type, set()).add((r.id, r.v))
    assert by_type["update_preimage"] == {(3, "v3")}
    assert by_type["update_postimage"] == {(3, "upd3")}
    assert by_type["insert"] == {(20, "v20")}

    s3 = delete_where_dv(spark, table, "id >= 12", change_feed=True)
    ch3 = read_changes(spark, table, since=s2, until=s3).collect()
    assert {r._change_type for r in ch3} == {"delete"}
    assert {r.id for r in ch3} == {12, 13, 14, 20}

    s4 = compact(spark, table, target_files=1)
    assert read_changes(spark, table, since=s3, until=s4).count() == 0

    # CoW delete WITHOUT a recorded relation: logical-diff fallback —
    # the rewritten file's live rows churn as delete+insert, but replay
    # still converges (delete-all-then-reinsert-kept)
    s5 = delete_where(spark, table, "id < 2")
    ch5 = read_changes(spark, table, since=s4, until=s5)
    types = {r._change_type for r in ch5.collect()}
    assert types == {"delete", "insert"}

    # grown-DV fallback: a DV delete without change_feed synthesizes
    # per-position deletes from the sidecar delta
    s6 = delete_where_dv(spark, table, "id = 11")
    ch6 = read_changes(spark, table, since=s5, until=s6).collect()
    assert [(r.id, r._change_type) for r in ch6] == [(11, "delete")]

    # replay: base snapshot 0 + full feed == latest snapshot
    state = {(r.id, r.v) for r in read_snapshot(spark, table, snapshot=0).collect()}
    feed = read_changes(spark, table, since=0).collect()
    for ver in sorted({r._commit_version for r in feed}):
        batch = [r for r in feed if r._commit_version == ver]
        state -= {
            (r.id, r.v)
            for r in batch
            if r._change_type in ("delete", "update_preimage")
        }
        state |= {
            (r.id, r.v)
            for r in batch
            if r._change_type in ("insert", "update_postimage")
        }
    final = {(r.id, r.v) for r in read_snapshot(spark, table).collect()}
    assert state == final
    # commit metadata is monotone and typed
    vers = [r._commit_version for r in feed]
    assert all(isinstance(v, int) for v in vers)
    assert all(r._commit_timestamp > 0 for r in feed)


def test_change_feed_validates_bounds_and_cdc_schema(spark, tmp_path):
    """read_changes rejects unknown snapshot bounds; commit rejects a cdc
    relation without the _change_type discriminator."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import commit, read_changes

    table = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    commit(df, table)
    with _pytest.raises(ValueError, match="not in"):
        read_changes(spark, table, since=7)
    # since=-1 = from-the-beginning: snapshot 0's rows surface as inserts
    # (stream-offset convention), matching the snapcdf initial offset
    full = read_changes(spark, table, since=-1).collect()
    assert [(r.id, r._change_type, r._commit_version) for r in full] == [
        (1, "insert", 0)
    ]
    with _pytest.raises(ValueError, match="not in"):
        read_changes(spark, table, since=0, until=9)
    with _pytest.raises(ValueError, match="_change_type"):
        commit(df, table, mode="append", cdc=df)
    # empty range returns a typed empty relation, not an error
    out = read_changes(spark, table, since=0)
    assert out.count() == 0
    assert {"_change_type", "_commit_version", "_commit_timestamp"} <= set(
        out.columns
    )


def test_change_feed_empty_cdc_recorded_not_fallback(spark, tmp_path):
    """A DML call with change_feed=True that matches NOTHING records an
    explicit empty change relation ("cdc": [] in the manifest) — the feed
    reports zero change rows for that commit, NOT the logical-diff
    fallback's full delete+insert churn of any rewritten files."""
    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        delete_where,
        delete_where_dv,
        read_changes,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ),
        table,
    )
    # DV delete matching nothing: no sidecar, no rewritten file — and a
    # recorded-empty change relation
    s1 = delete_where_dv(spark, table, "id > 100", change_feed=True)
    assert _read_manifest(table, s1).get("cdc") == []
    assert read_changes(spark, table, since=0, until=s1).count() == 0
    # copy-on-write delete matching nothing (rewrites files it scanned):
    # the recorded-empty marker must still win over the manifest diff
    s2 = delete_where(spark, table, "id > 100", change_feed=True)
    assert _read_manifest(table, s2).get("cdc") == []
    assert read_changes(spark, table, since=s1, until=s2).count() == 0
    # and the whole-history feed still sees zero rows after snapshot 0
    assert read_changes(spark, table, since=0).count() == 0


def test_snaptable_batch_read_applies_deletion_vectors(spark, tmp_path):
    """format("snaptable") batch reads must NOT resurrect DV-deleted rows:
    the per-file partitions carry the entry's deletion-vector positions
    and mask them executor-side (the reader anti-join, pushed into the
    partition read)."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import commit, delete_where_dv

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    commit(spark.range(10).selectExpr("id", "id * 2 AS v").repartition(2), table)
    delete_where_dv(spark, table, "id IN (1, 4, 7)")

    latest = spark.read.format("snaptable").option("table_path", table).load()
    assert {r.id for r in latest.collect()} == set(range(10)) - {1, 4, 7}
    # time travel to the pre-delete snapshot still serves every row
    pinned = (
        spark.read.format("snaptable")
        .option("table_path", table)
        .option("snapshot", 0)
        .load()
    )
    assert {r.id for r in pinned.collect()} == set(range(10))


def test_snapcdf_stream_survives_dml_and_matches_batch(spark, tmp_path):
    """format("snapcdf"): a consumer tails the CHANGE FEED — unlike the
    plain-rows snaptable stream it keeps running across overwrite commits
    (merge/delete/compact), emitting typed change rows that match the
    batch read_changes plan chunk-for-chunk, and replaying its output
    reconstructs the latest snapshot."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        delete_where_dv,
        merge_upsert,
        read_changes,
        read_snapshot,
    )

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).repartition(2),
        table,
    )
    commit(
        spark.createDataFrame([(8, "v8"), (9, "v9")], "id long, v string"),
        table,
        mode="append",
    )

    def run_once():
        stream = spark.readStream.format("snapcdf").option(
            "table_path", table
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).collect()
    assert {r._change_type for r in first} == {"insert"}
    assert {r.id for r in first} == set(range(10))
    assert {r._commit_version for r in first} == {0, 1}

    # DML across overwrite commits: the SAME checkpointed stream continues
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(3, "UPD"), (20, "v20")], "id long, v string"),
        key="id",
        change_feed=True,
    )
    delete_where_dv(spark, table, "id IN (5, 20)")
    compact(spark, table, target_files=1)
    run_once()
    rows = spark.read.parquet(out).collect()
    delta = [r for r in rows if r._commit_version >= 2]
    # merge: recorded exact change relation; dv delete: synthesized
    # per-position deletes; compact: zero rows
    assert {(r.id, r._change_type) for r in delta} == {
        (3, "update_preimage"),
        (3, "update_postimage"),
        (20, "insert"),
        (5, "delete"),
        (20, "delete"),
    }
    assert max(r._commit_version for r in rows) == 3  # nothing from compact

    # stream output == batch read_changes over the same range
    batch = read_changes(spark, table, since=1).collect()
    assert {
        (r.id, r.v, r._change_type, r._commit_version) for r in delta
    } == {(r.id, r.v, r._change_type, r._commit_version) for r in batch}

    # replay the full feed from empty: reconstructs the latest snapshot
    state: set = set()
    for ver in sorted({r._commit_version for r in rows}):
        batch_rows = [r for r in rows if r._commit_version == ver]
        state -= {
            (r.id, r.v)
            for r in batch_rows
            if r._change_type in ("delete", "update_preimage")
        }
        state |= {
            (r.id, r.v)
            for r in batch_rows
            if r._change_type in ("insert", "update_postimage")
        }
    assert state == {
        (r.id, r.v) for r in read_snapshot(spark, table).collect()
    }


def test_cdf_maintained_view_through_dml_script(spark, tmp_path):
    """CDF-driven incremental view maintenance (IVM): a per-key count+sum
    aggregate consumes format("snapcdf") and maintains itself through a
    10-commit script — appends, merge-upsert, DV delete, compaction
    (zero feed rows), copy-on-write delete, and a PLAIN OVERWRITE with no
    recorded change relation (the logical-diff fallback) — with a stream
    restart mid-script and a replayed batch, always matching the batch
    aggregate over the latest snapshot."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        delete_where,
        delete_where_dv,
        merge_upsert,
        read_snapshot,
    )
    from event_stream_spark.streaming.cdfview import (
        apply_cdf_batch,
        maintain_cdf_view,
        read_view,
    )

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def rows(rng):
        return spark.createDataFrame(
            [(i, i % 4, 10 * i) for i in rng], "id long, k long, v long"
        )

    def batch_truth():
        from pyspark.sql import functions as F

        return {
            (r.k, r.n, r.total)
            for r in read_snapshot(spark, table)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
            .collect()
        }

    def view_now():
        return {(r.k, r.n, r.total) for r in read_view(spark, view).collect()}

    # commits 0-4: append, append, merge (updates+inserts), DV delete,
    # compact (data_change=False -> zero feed rows)
    commit(rows(range(10)), table, stats_cols=["id"])                    # 0
    commit(rows(range(10, 15)), table, mode="append", stats_cols=["id"])  # 1
    merge_upsert(                                                         # 2
        spark, table,
        spark.createDataFrame(
            [(3, 3, 999), (20, 0, 200)], "id long, k long, v long"
        ),
        key="id", stats_cols=["id"], change_feed=True,
    )
    delete_where_dv(spark, table, "id IN (1, 12)", change_feed=True)      # 3
    compact(spark, table, stats_cols=["id"])                              # 4

    q = maintain_cdf_view(spark, table, view, ckpt, key="k", val="v")
    q.awaitTermination(120)
    assert view_now() == batch_truth()

    # replay idempotence: a batch re-applied with ITS OWN id (the crash-
    # recovery shape — same content, same id) recomputes from the same
    # predecessor state and republishes identically, no double-count
    import os

    from event_stream_spark.sources.snaplog import read_changes

    last_id = max(
        int(d[1:]) for d in os.listdir(view) if d.startswith("v")
    )
    replay = read_changes(spark, table, since=3, until=4)  # empty: compact
    apply_cdf_batch(replay, last_id + 1, view, key="k", val="v")
    after_first = view_now()
    apply_cdf_batch(replay, last_id + 1, view, key="k", val="v")
    assert view_now() == after_first == batch_truth()
    # and a NON-empty batch replayed twice is applied once
    replay2 = read_changes(spark, table, since=2, until=3)  # the deletes
    apply_cdf_batch(replay2, last_id + 2, view, key="k", val="v")
    after_first = view_now()
    apply_cdf_batch(replay2, last_id + 2, view, key="k", val="v")
    assert view_now() == after_first
    # roll the side experiment back so the stream restart resumes from
    # the checkpointed truth (drop the two hand-applied versions)
    import shutil as _shutil

    for vid in (last_id + 1, last_id + 2):
        _shutil.rmtree(os.path.join(view, f"v{vid}"), ignore_errors=True)
    assert view_now() == batch_truth()

    # commits 5-9: append, copy-on-write delete, PLAIN overwrite (no
    # recorded cdc -> logical-diff fallback), merge, append
    commit(rows(range(30, 34)), table, mode="append", stats_cols=["id"])  # 5
    delete_where(spark, table, "id >= 32", change_feed=True)              # 6
    snap = read_snapshot(spark, table)
    commit(                                                               # 7
        snap.filter("id != 5").cache(), table, mode="overwrite",
        stats_cols=["id"],
    )
    merge_upsert(                                                         # 8
        spark, table,
        spark.createDataFrame([(40, 1, 400)], "id long, k long, v long"),
        key="id", stats_cols=["id"], change_feed=True,
    )
    commit(rows(range(50, 53)), table, mode="append", stats_cols=["id"])  # 9

    # RESTART: same checkpoint resumes from the committed offset
    q2 = maintain_cdf_view(spark, table, view, ckpt, key="k", val="v")
    q2.awaitTermination(120)
    assert view_now() == batch_truth()


def test_snap_stream_max_snapshots_per_trigger(spark, tmp_path):
    """Backpressure: max_snapshots_per_trigger bounds how many snapshot
    ids one microbatch covers, on both the plain-rows and the CDF leg —
    clamped in latestOffset so every skipped id is still delivered by a
    later batch (an offset is an ack), and availableNow drains the whole
    history in bounded steps."""
    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import commit

    snapstream.register(spark)
    table = str(tmp_path / "tbl")
    for n in range(6):
        commit(
            spark.createDataFrame(
                [(n * 10 + i, n) for i in range(3)], "id long, snap long"
            ),
            table,
            mode="append",
        )

    import time as _time

    def drain(fmt, cap, ck, extract):
        """Run throttled with a processing-time trigger (see the option's
        availableNow caveat) until all 6 snapshots are seen."""
        batches: list[set[int]] = []

        def sink(df, _bid, acc=batches):
            acc.append(extract(df))

        q = (
            spark.readStream.format(fmt)
            .option("table_path", table)
            .option("max_snapshots_per_trigger", str(cap))
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                if set().union(*batches, set()) == set(range(6)):
                    break
                _time.sleep(0.2)
        finally:
            q.stop()
        return [b for b in batches if b]

    nonempty = drain(
        "snaptable", 2, "ck1", lambda df: {r.snap for r in df.collect()}
    )
    assert all(len(b) <= 2 for b in nonempty), nonempty
    assert len(nonempty) >= 3  # 6 snapshots at <=2 per trigger
    assert set().union(*nonempty) == set(range(6))
    assert sum(len(b) for b in nonempty) == 6  # no id delivered twice

    nonempty2 = drain(
        "snapcdf", 3, "ck2",
        lambda df: {r._commit_version for r in df.collect()},
    )
    assert all(len(b) <= 3 for b in nonempty2), nonempty2
    assert set().union(*nonempty2) == set(range(6))


def test_vacuum_sweeps_unreferenced_cdc_sidecars(spark, tmp_path):
    """_cdc_data sidecars follow the same vacuum liveness rule as data
    files and DVs: alive while a KEPT manifest's "cdc" list references
    them, garbage once their manifest is dropped (the feed over that
    window already fails loudly on vacuumed history) — they must not
    leak forever."""
    import glob as _glob
    import os as _os

    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where_dv,
        merge_upsert,
        read_changes,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ),
        table,
        stats_cols=["id"],
    )
    merge_upsert(
        spark, table,
        spark.createDataFrame([(3, "u3")], "id long, v string"),
        key="id", stats_cols=["id"], change_feed=True,
    )  # snapshot 1: cdc sidecar that will become garbage
    merge_upsert(
        spark, table,
        spark.createDataFrame([(4, "u4")], "id long, v string"),
        key="id", stats_cols=["id"], change_feed=True,
    )  # snapshot 2: kept
    s2 = delete_where_dv(spark, table, "id = 7", change_feed=True)
    # snapshot 3: cdc sidecar that must SURVIVE (kept manifest)

    def cdc_files():
        return set(_glob.glob(_os.path.join(table, "_cdc_data", "*", "*")))

    from event_stream_spark.sources.snaplog import _read_manifest

    referenced = set(_read_manifest(table, s2).get("cdc") or [])
    assert referenced  # the kept manifest records its change relation
    before = cdc_files()
    assert len([p for p in before if p.endswith(".parquet")]) >= 3
    removed = vacuum(table, keep_last=2, tmp_ttl_s=0.0)
    after = cdc_files()
    # snapshot 1's sidecars are garbage (their manifest was dropped) and
    # must be gone; everything the KEPT manifest references must survive
    # (unreferenced empty part files / _SUCCESS markers may go either way)
    assert any("_cdc_data" in p and f"c{1:012d}" in p for p in removed)
    assert not any(f"c{1:012d}" in p for p in after)
    assert referenced <= after
    # the feed over the kept window still reads its recorded relation
    ch = read_changes(spark, table, since=s2 - 1, until=s2).collect()
    assert {r._change_type for r in ch} == {"delete"}
    assert {r.id for r in ch} == {7}


def test_txn_commit_idempotent_replay(spark, tmp_path):
    """snaplog writer transactions: a replayed (app_id, version) commit is
    a no-op returning the current snapshot; the watermark map survives
    unrelated commits and compaction; independent app_ids don't collide."""
    from event_stream_spark.sources.snaplog import (
        commit,
        compact,
        snap_count,
        snapshots,
        _read_manifest,
    )

    table = str(tmp_path / "t")
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731

    s0 = commit(df(0, 10), table, txn=("appA", 0))
    assert snap_count(table) == 10
    # exact replay: skipped, same table state, NO new snapshot
    assert commit(df(0, 10), table, txn=("appA", 0)) == s0
    assert snapshots(table)[-1] == s0 and snap_count(table) == 10
    # stale (lower) version replay after progress: also skipped
    commit(df(10, 20), table, txn=("appA", 1))
    assert snap_count(table) == 20
    assert commit(df(0, 10), table, txn=("appA", 0)) == snapshots(table)[-1]
    assert snap_count(table) == 20
    # a different app with the same version number is independent
    commit(df(20, 25), table, txn=("appB", 0))
    assert snap_count(table) == 25
    # the map rides unrelated commits (plain append, then compact)
    commit(df(25, 30), table)
    compact(spark, table)
    assert commit(df(0, 10), table, txn=("appA", 1)) == snapshots(table)[-1]
    assert commit(df(0, 10), table, txn=("appB", 0)) == snapshots(table)[-1]
    assert snap_count(table) == 30
    assert _read_manifest(table, snapshots(table)[-1])["txn"] == {
        "appA": 1,
        "appB": 0,
    }


def test_stream_into_snaptable_exactly_once(spark, tmp_path):
    """Streaming appends into a snapshot table are exactly-once across a
    sink-write/checkpoint-commit crash: re-running the query after the
    last epoch's checkpoint commit marker is deleted re-executes that
    microbatch, and the txn watermark absorbs the duplicate."""
    import glob
    import os

    from event_stream_spark.sources.snaplog import snap_count, snapshots
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"

    def arrive(lo, hi):
        spark.createDataFrame(
            [(i, f"row{i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        import time

        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_into_snaptable(
            stream, table, ckpt, app_id="ingest",
            trigger_available_now=False, change_feed=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            # stop() returns before the stream thread deregisters the
            # checkpoint path; an immediate same-checkpoint restart would
            # trip Spark's concurrent-use guard
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    arrive(0, 50)
    run_once()
    assert snap_count(table) == 50
    arrive(50, 80)
    run_once()
    assert snap_count(table) == 80
    n_snaps = len(snapshots(table))

    # simulate a crash AFTER the snaplog commit but BEFORE the checkpoint
    # marker: delete the newest checkpoint commit file and re-run — the
    # engine replays the microbatch, the sink must not duplicate it
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
    os.remove(commits[-1])
    # Hadoop's local FS writes a checksum sidecar next to each metadata
    # file; a real crash loses both, so the simulation must too
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    assert snap_count(table) == 80  # no duplicates
    assert len(snapshots(table)) == n_snaps  # no extra snapshot published

    # replay with nothing new at all: still a no-op
    run_once()
    assert snap_count(table) == 80

    # the recorded change feed covers exactly the ingested rows
    from event_stream_spark.sources.snaplog import read_changes

    ch = read_changes(spark, table, since=-1)
    ins = ch.filter("_change_type = 'insert'")
    assert ins.count() == 80
    assert ins.agg(F.countDistinct("k")).collect()[0][0] == 80


def test_snapsink_auto_compaction_bounds_files(spark, tmp_path):
    """compact_every=N in the streaming sink bounds live file count while
    staying row-identical, CDF-neutral (compaction commits are
    data_change=False — the change feed carries ONLY real inserts), and
    replay-safe across a checkpoint crash that lands on a compaction
    batch.  Without it, streaming ingest accretes one file set per
    microbatch forever — the 100 TB small-file tax this knob pays down."""
    import glob
    import os
    import time

    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        read_changes,
        snap_count,
        snapshots,
    )
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"

    def arrive(lo, hi):
        spark.createDataFrame(
            [(i, f"row{i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one arrival = one batch
            .parquet(src)
        )
        q = stream_into_snaptable(
            stream, table, ckpt, app_id="ingest",
            trigger_available_now=False, change_feed=True,
            compact_every=3, compact_target_files=2,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    for w in range(6):
        arrive(w * 10, w * 10 + 10)
    run_once()
    assert snap_count(table) == 60
    # batches 0..5 ran; compaction fired after batches 2 and 5 → the
    # live manifest holds the compacted layout, not 6 accreted file sets
    live = _read_manifest(table, snapshots(table)[-1])["files"]
    assert len(live) <= 2
    # CDF carries exactly the 60 real inserts — zero compaction churn
    ch = read_changes(spark, table, since=-1)
    assert ch.filter("_change_type = 'insert'").count() == 60
    assert ch.filter("_change_type != 'insert'").count() == 0

    # crash AFTER the batch-5 append+compact but BEFORE its checkpoint
    # marker: the replayed batch must skip the append (txn ledger) and a
    # re-run compaction must stay row-identical
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    assert snap_count(table) == 60
    ch = read_changes(spark, table, since=-1)
    assert ch.filter("_change_type = 'insert'").count() == 60
    got = {
        (r["k"], r["v"])
        for r in ch.filter("_change_type = 'insert'").collect()
    }
    assert got == {(i, f"row{i}") for i in range(60)}


def test_lakehouse_loop_stream_in_cdf_out(spark, tmp_path):
    """The full lakehouse loop: a file stream ingests into a snapshot
    table exactly-once (snapsink, change_feed recorded), and a second
    stream consumes that table's change feed to maintain a per-key
    aggregate view — which must equal the batch aggregate over the table
    at every ingest step."""
    import time

    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import read_snapshot
    from event_stream_spark.streaming.cdfview import (
        maintain_cdf_view,
        read_view,
    )
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    snapstream.register(spark)

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    schema = "k long, v double"

    def arrive(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def ingest():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_into_snaptable(
            stream, table, str(tmp_path / "ckpt_in"), app_id="ingest",
            trigger_available_now=False, change_feed=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    def maintain():
        q = maintain_cdf_view(
            spark, table, str(tmp_path / "view"), str(tmp_path / "ckpt_out"),
            key="k", val="v",
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    for step, rows in enumerate(
        [
            [(i % 7, float(i)) for i in range(40)],
            # integral doubles: the IVM view keeps integer-scaled totals
            # (the repo-wide bit-exactness stance for commutative sums)
            [(i % 5, float(i * 3)) for i in range(25)],
        ]
    ):
        arrive(rows)
        ingest()
        maintain()
        got = {
            (r["k"]): (r["n"], r["total"])
            for r in read_view(spark, str(tmp_path / "view")).collect()
        }
        want = {
            r["k"]: (r["n"], r["total"])
            for r in read_snapshot(spark, table)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
            .collect()
        }
        assert got == want, f"step {step}: {got} != {want}"


def test_check_constraints_enforced_at_commit(spark, tmp_path):
    """CHECK constraints (the Delta ADD CONSTRAINT design point): adding
    validates existing rows; every later commit enforces on its new rows
    BEFORE the manifest claim (a violating commit leaves the table at the
    previous snapshot, no orphan visible); NULL passes (SQL CHECK
    semantics); constraints survive unrelated commits and compaction;
    drop lifts enforcement."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        ConstraintViolation,
        commit,
        compact,
        drop_constraint,
        read_snapshot,
        set_constraint,
        snap_count,
        snapshots,
    )

    table = str(tmp_path / "t")
    schema = "k long, v double"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731

    commit(mk([(1, 1.0), (2, 2.0)]), table)
    set_constraint(spark, table, "v_pos", "v >= 0")
    # a constraint the table already violates is refused, no commit lands
    n_before = len(snapshots(table))
    with _pytest.raises(ConstraintViolation, match="existing rows"):
        set_constraint(spark, table, "v_big", "v > 100")
    assert len(snapshots(table)) == n_before

    # conforming append passes; violating append is rejected atomically
    commit(mk([(3, 3.0)]), table)
    assert snap_count(table) == 3
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        commit(mk([(4, 4.0), (5, -1.0)]), table)
    assert snap_count(table) == 3
    assert len(snapshots(table)) == n_before + 1

    # NULL passes: SQL CHECK only rejects FALSE
    commit(mk([(6, None)]), table)
    assert snap_count(table) == 4

    # survives compaction and unrelated commits
    compact(spark, table)
    with _pytest.raises(ConstraintViolation):
        commit(mk([(7, -7.0)]), table)

    # DML inherits enforcement: an upsert writing a violating postimage
    from event_stream_spark.sources.snaplog import merge_upsert

    with _pytest.raises(ConstraintViolation):
        merge_upsert(spark, table, mk([(1, -5.0)]), key="k")
    assert read_snapshot(spark, table).where("v < 0").count() == 0

    # drop lifts enforcement
    drop_constraint(table, "v_pos")
    commit(mk([(8, -8.0)]), table)
    assert snap_count(table) == 5


def test_constraint_blocks_streaming_sink(spark, tmp_path):
    """A violating microbatch fails the streaming ingest and the table
    stays at its last good snapshot — constraints guard the streaming
    path through the same commit seam."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        commit,
        set_constraint,
        snap_count,
    )
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    schema = "k long, v double"
    commit(spark.createDataFrame([(0, 1.0)], schema), table)
    set_constraint(spark, table, "v_pos", "v >= 0")

    spark.createDataFrame(
        [(1, 2.0), (2, -3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_into_snaptable(
        stream, table, str(tmp_path / "ckpt"), app_id="ingest",
        trigger_available_now=False,
    )
    try:
        with _pytest.raises(Exception, match="v_pos"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert snap_count(table) == 1


def test_restore_to_previous_snapshot(spark, tmp_path):
    """RESTORE: a bad DML is rolled back by publishing a new overwrite
    commit with the target snapshot's exact file+DV state; history stays
    time-travelable, the change feed synthesizes the rollback churn, a
    since-added constraint blocks a violating restore, and restoring past
    the vacuum horizon fails loudly."""
    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        ConstraintViolation,
        commit,
        delete_where_dv,
        merge_upsert,
        read_changes,
        read_snapshot,
        restore,
        set_constraint,
        snap_count,
        snapshots,
        vacuum,
    )

    table = str(tmp_path / "t")
    schema = "k long, v double"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731

    commit(mk([(i, float(i)) for i in range(10)]), table)      # snap 0
    delete_where_dv(spark, table, "k >= 8")                     # snap 1 (DV)
    good = snapshots(table)[-1]
    assert snap_count(table) == 8
    merge_upsert(spark, table, mk([(0, -999.0), (1, -999.0)]), key="k")  # bad

    r = restore(spark, table, good)
    assert r == snapshots(table)[-1]
    assert snap_count(table) == 8
    assert read_snapshot(spark, table).where("v < 0").count() == 0
    # DV state restored too: k=8,9 stay deleted
    assert read_snapshot(spark, table).where("k >= 8").count() == 0
    # history preserved: the bad snapshot is still time-travelable
    bad_snap = r - 1
    assert (
        read_snapshot(spark, table, snapshot=bad_snap).where("v < 0").count()
        == 2
    )
    # the change feed reports the rollback as delete+insert churn
    ch = read_changes(spark, table, since=bad_snap, until=r)
    assert ch.where("_change_type = 'delete' AND v < 0").count() == 2

    # a since-added constraint blocks restoring to a violating state
    set_constraint(spark, table, "v_pos", "v >= 0")
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        restore(spark, table, bad_snap)

    # restore to a state whose data files are gone: loud failure
    commit(mk([(100, 100.0)]), table)
    from event_stream_spark.sources.snaplog import _read_manifest, compact

    compact(spark, table)  # current state no longer shares good's files
    import os

    os.remove(_read_manifest(table, good)["files"][0]["path"])
    n = len(snapshots(table))
    with _pytest.raises(ValueError, match="vacuumed"):
        restore(spark, table, good)
    assert len(snapshots(table)) == n
    # restore past the vacuum horizon (manifest itself trimmed): loud too
    vacuum(table, keep_last=1)
    with _pytest.raises(ValueError, match="not in"):
        restore(spark, table, good)
    assert snap_count(table) == 9


def test_shallow_clone(spark, tmp_path):
    """SHALLOW CLONE: zero data files copied, reads equal the source at
    the cloned snapshot, DML on the clone is copy-on-write into the
    clone's own directory (the source never changes), CHECK constraints
    travel, and vacuuming the clone never touches source files."""
    import glob
    import os

    import pytest as _pytest

    from event_stream_spark.sources.snaplog import (
        ConstraintViolation,
        clone,
        commit,
        merge_upsert,
        read_snapshot,
        set_constraint,
        snap_count,
        vacuum,
    )

    src_t = str(tmp_path / "src")
    dst_t = str(tmp_path / "dst")
    schema = "k long, v double"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731

    commit(mk([(i, float(i)) for i in range(10)]), src_t)       # snap 0
    set_constraint(spark, src_t, "v_pos", "v >= 0")             # snap 1
    commit(mk([(10, 10.0), (11, 11.0)]), src_t)                 # snap 2

    # clone at an older snapshot: time-travel clone
    clone(src_t, str(tmp_path / "old"), snapshot=0)
    assert snap_count(str(tmp_path / "old")) == 10

    clone(src_t, dst_t)
    assert snap_count(dst_t) == 12
    assert not glob.glob(os.path.join(dst_t, "data", "**", "*.parquet"),
                         recursive=True)  # zero bytes copied
    with _pytest.raises(ValueError, match="already exists"):
        clone(src_t, dst_t)

    # constraints travel with the clone
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        commit(mk([(99, -1.0)]), dst_t)

    # copy-on-write divergence: the source never observes clone DML
    merge_upsert(spark, dst_t, mk([(0, 1000.0), (50, 50.0)]), key="k")
    assert snap_count(dst_t) == 13
    assert read_snapshot(spark, dst_t).where("k = 0").first()["v"] == 1000.0
    assert snap_count(src_t) == 12
    assert read_snapshot(spark, src_t).where("k = 0").first()["v"] == 0.0
    # the clone's new files live under ITS directory; untouched entries
    # still reference source files
    new_files = glob.glob(os.path.join(dst_t, "data", "**", "*.parquet"),
                          recursive=True)
    assert new_files
    # vacuuming the clone removes nothing of the source's
    before = set(glob.glob(os.path.join(src_t, "data", "**", "*.parquet"),
                           recursive=True))
    vacuum(dst_t, keep_last=1, tmp_ttl_s=0.0)
    after = set(glob.glob(os.path.join(src_t, "data", "**", "*.parquet"),
                          recursive=True))
    assert before == after
    assert snap_count(dst_t) == 13  # clone still fully readable


def test_interval_join_left_outer_stream(spark, tmp_path):
    """§2.9: leftOuter stream-stream interval join — matched rows pair as
    in the inner join, and an UNMATCHED left row is emitted with NULL
    right columns once the watermark passes its window (driven here by a
    late sentinel row on both sides)."""
    import datetime as dt

    from event_stream_spark.streaming.windows import interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    schema = "user_id long, ts timestamp, event_id long"
    purchases = [
        (1, mins(30), 100),   # click 200 in window -> matched
        (2, mins(30), 101),   # user-2 click came after -> UNMATCHED
    ]
    clicks = [
        (1, mins(20), 200),
        (2, mins(40), 201),   # after the purchase: outside the window
    ]
    sentinel_p = [(9, mins(60 * 24), 999)]
    sentinel_c = [(9, mins(60 * 24), 998)]

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(purchases + sentinel_p, schema).coalesce(1).write.parquet(lsrc)
    spark.createDataFrame(clicks + sentinel_c, schema).coalesce(1).write.parquet(rsrc)
    ls = spark.readStream.schema(schema).parquet(lsrc)
    rs = spark.readStream.schema(schema).parquet(rsrc)
    _drain(
        interval_join(ls, rs, join_type="leftOuter")
        .writeStream.format("memory")
        .queryName("ivj_lo")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
    )
    rows = {
        r["event_id"]: r["event_id_r"]
        for r in spark.sql("SELECT * FROM ivj_lo").collect()
        if r["user_id"] != 9
    }
    assert rows == {100: 200, 101: None}


def test_dumpfeed_streaming_ingest_end_to_end(spark, tmp_path):
    """format("dumpfeed"): .jsonl.zst shards landing in a directory stream
    into a snapshot table exactly-once across restarts (the crawl front
    door composed with the txn-guarded sink), and an out-of-order shard —
    one sorting below the ingested watermark — fails the stream loudly
    instead of being silently skipped."""
    import time

    import pytest as _pytest

    from event_stream_spark.sources import dumpstream
    from event_stream_spark.sources.dumps import write_jsonl_zst
    from event_stream_spark.sources.snaplog import snap_count, snapshots
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    dumpstream.register(spark)
    d = str(tmp_path / "landing")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def land(lo, hi, name):
        import json
        import os

        from event_stream_spark.sources.zstdcodec import zstd_store_frame

        os.makedirs(d, exist_ok=True)
        payload = "".join(
            json.dumps({"doc_id": i, "text": f"doc {i}"}) + "\n"
            for i in range(lo, hi)
        ).encode()
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(zstd_store_frame(payload))

    def run_once():
        stream = (
            spark.readStream.format("dumpfeed")
            .schema("doc_id long, text string")
            .option("path", d)
            .load()
        )
        q = stream_into_snaptable(
            stream, table, ckpt, app_id="crawl",
            trigger_available_now=False,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    land(0, 30, "crawl-00000.jsonl.zst")
    land(30, 50, "crawl-00001.jsonl.zst")
    run_once()
    assert snap_count(table) == 50
    n_snaps = len(snapshots(table))

    # restart with one new shard: only the delta ingests
    land(50, 70, "crawl-00002.jsonl.zst")
    run_once()
    assert snap_count(table) == 70
    # replay with nothing new: no snapshots published
    run_once()
    assert snap_count(table) == 70

    # an out-of-order shard below the watermark mid-run: loud failure
    stream = (
        spark.readStream.format("dumpfeed")
        .schema("doc_id long, text string")
        .option("path", d)
        .load()
    )
    q = stream_into_snaptable(
        stream, table, ckpt, app_id="crawl", trigger_available_now=False
    )
    try:
        q.processAllAvailable()
        land(70, 80, "crawl-00001a.jsonl.zst")  # sorts below 00002
        land(80, 90, "crawl-00003.jsonl.zst")
        with _pytest.raises(Exception, match="out-of-order"):
            q.processAllAvailable()
            for _ in range(100):
                if q.exception() is not None:
                    raise q.exception()
                time.sleep(0.1)
    finally:
        q.stop()
        for _ in range(200):
            if not spark.streams.active:
                break
            time.sleep(0.1)
    assert snap_count(table) == 70  # nothing partial ingested


def test_dumpfeed_streams_warc_archives(spark, tmp_path):
    """format("dumpfeed") with suffix=.warc.gz: crawl-capture archives
    stream shard-per-partition, response records surfacing under their
    standard field names — the WARC front door live."""
    import os

    from event_stream_spark.sources import dumpstream
    from event_stream_spark.sources.dumps import write_warc_gz

    dumpstream.register(spark)
    d = str(tmp_path / "landing")
    os.makedirs(d)
    write_warc_gz(
        [{"url": f"http://x/{i}", "body": f"body {i}"} for i in range(20)],
        os.path.join(d, "crawl-00000.warc.gz"),
    )
    write_warc_gz(
        [{"url": f"http://x/{i}", "body": f"body {i}"} for i in range(20, 30)],
        os.path.join(d, "crawl-00001.warc.gz"),
    )
    stream = (
        spark.readStream.format("dumpfeed")
        .schema("url string, status int, body binary")
        .option("path", d)
        .option("suffix", ".warc.gz")
        .load()
    )
    _drain(
        stream.writeStream.format("memory")
        .queryName("warcfeed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
    )
    rows = {r["url"]: r for r in spark.sql("SELECT * FROM warcfeed").collect()}
    assert len(rows) == 30
    assert bytes(rows["http://x/25"]["body"]) == b"body 25"
    assert rows["http://x/0"]["status"] == 200


def test_dumpfeed_starting_after_skips_history(spark, tmp_path):
    """dumpfeed starting_after: a tail-only consumer ingests only shards
    named after its start marker."""
    import json
    import os

    from event_stream_spark.sources import dumpstream
    from event_stream_spark.sources.zstdcodec import zstd_store_frame

    dumpstream.register(spark)
    d = str(tmp_path / "landing")
    os.makedirs(d)
    for s, (lo, hi) in enumerate([(0, 10), (10, 25), (25, 30)]):
        payload = "".join(
            json.dumps({"doc_id": i}) + "\n" for i in range(lo, hi)
        ).encode()
        with open(os.path.join(d, f"crawl-{s:05d}.jsonl.zst"), "wb") as fh:
            fh.write(zstd_store_frame(payload))
    stream = (
        spark.readStream.format("dumpfeed")
        .schema("doc_id long")
        .option("path", d)
        .option("starting_after", "crawl-00000.jsonl.zst")
        .load()
    )
    _drain(
        stream.writeStream.format("memory")
        .queryName("tailfeed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
    )
    got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM tailfeed").collect())
    assert got == list(range(10, 30))  # shard 0 skipped

def test_dumpfeed_clamped_offset_never_regresses_after_restart(tmp_path):
    """Unit-level simulation of the engine's reader protocol around
    restart + max_files_per_trigger.  The engine's observed call order
    (probed against pyspark's MicroBatchExecution; the e2e restart test
    below pins it end-to-end):

    - fresh checkpoint:  latestOffset, initialOffset, partitions, ...
    - restart (committed OR pending last batch):  partitions(start,
      committed_end) FIRST, then latestOffset.

    The hazard: a fresh post-restart reader has ``_last`` back at
    ``starting_after``; a clamp from that reset watermark would return an
    offset BELOW the committed checkpoint, Spark would commit it as a
    batch end, and a later batch would re-plan (regressed, head] shards
    already ingested before the restart — duplicates under new batch ids.
    The fix: partitions()/commit() advance ``_last`` to the committed
    end, so by the first post-restart poll the clamp is relative to the
    checkpoint, never below it."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from event_stream_spark.sources.dumpstream import DumpFeedStreamReader
    from event_stream_spark.sources.zstdcodec import zstd_store_frame

    d = str(tmp_path / "landing")
    os.makedirs(d)
    names = [f"crawl-{i:05d}.jsonl.zst" for i in range(6)]
    for i, n in enumerate(names):
        with open(os.path.join(d, n), "wb") as fh:
            fh.write(zstd_store_frame(b'{"doc_id": %d}\n' % i))
    schema = StructType([StructField("doc_id", LongType())])
    opts = {"path": d, "max_files_per_trigger": "2"}

    # fresh checkpoint: bounded catch-up from the very first poll
    r = DumpFeedStreamReader(dict(opts), schema)
    assert r.latestOffset() == {"name": names[1]}  # clamped to 2
    assert r.initialOffset() == {"name": ""}
    assert r.latestOffset() == {"name": names[3]}

    # restart, last batch committed: the engine re-plans the last
    # offset-log batch first — partitions(end, end) — which teaches the
    # fresh reader the committed watermark; the first poll then clamps
    # RELATIVE TO it (never names[1] < committed names[3])
    r2 = DumpFeedStreamReader(dict(opts), schema)
    assert r2.partitions({"name": names[3]}, {"name": names[3]}) == []
    off = r2.latestOffset()
    assert off == {"name": names[5]}  # 2 past the committed watermark
    assert off["name"] > names[3]

    # restart with a pending batch: partitions(start, end) replay, same
    r3 = DumpFeedStreamReader(dict(opts), schema)
    parts = r3.partitions({"name": names[1]}, {"name": names[3]})
    assert [os.path.basename(p.path) for p in parts] == [names[2], names[3]]
    assert r3.latestOffset() == {"name": names[5]}

    # commit(end) alone also teaches the watermark
    r4 = DumpFeedStreamReader(dict(opts), schema)
    r4.commit({"name": names[3]})
    assert r4.latestOffset() == {"name": names[5]}


def test_dumpfeed_max_files_per_trigger_restart_exactly_once(spark, tmp_path):
    """End-to-end: dumpfeed throttled by max_files_per_trigger, composed
    with the txn-guarded snapshot sink, stays exactly-once ACROSS RESTARTS
    — the regression the trusted-watermark clamp fix closes (before it,
    the post-restart reader committed a regressed offset and re-ingested
    every shard under new batch ids)."""
    import json
    import os
    import time

    from event_stream_spark.sources import dumpstream
    from event_stream_spark.sources.snaplog import read_snapshot, snap_count
    from event_stream_spark.sources.zstdcodec import zstd_store_frame
    from event_stream_spark.streaming.snapsink import stream_into_snaptable

    dumpstream.register(spark)
    d = str(tmp_path / "landing")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)

    def land(s, lo, hi):
        payload = "".join(
            json.dumps({"doc_id": i}) + "\n" for i in range(lo, hi)
        ).encode()
        with open(os.path.join(d, f"crawl-{s:05d}.jsonl.zst"), "wb") as fh:
            fh.write(zstd_store_frame(payload))

    def run_once():
        stream = (
            spark.readStream.format("dumpfeed")
            .schema("doc_id long")
            .option("path", d)
            .option("max_files_per_trigger", "1")
            .load()
        )
        q = stream_into_snaptable(
            stream, table, ckpt, app_id="crawl",
            trigger_available_now=False,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            for _ in range(200):
                if not spark.streams.active:
                    break
                time.sleep(0.1)

    land(0, 0, 10)
    land(1, 10, 25)
    land(2, 25, 30)
    run_once()
    assert snap_count(table) == 30

    # restart with two new shards: ONLY the delta ingests, throttled
    land(3, 30, 40)
    land(4, 40, 45)
    run_once()
    assert snap_count(table) == 45
    ids = sorted(
        r["doc_id"] for r in read_snapshot(spark, table).collect()
    )
    assert ids == list(range(45))  # no duplicates, no gaps

    # idle restart: nothing replans
    run_once()
    assert snap_count(table) == 45


def test_snapstream_clamped_offset_never_regresses_after_restart(
    spark, tmp_path
):
    """Same trusted-watermark contract on the snaptable/snapcdf legs:
    a post-restart first poll never returns an offset below the committed
    snapshot id when max_snapshots_per_trigger is set."""
    from pyspark.sql.types import LongType, StructField, StructType

    from event_stream_spark.sources.snaplog import commit
    from event_stream_spark.sources.snapstream import (
        SnapCDFStreamReader,
        SnapTableStreamReader,
    )

    table = str(tmp_path / "tbl")
    for n in range(6):
        commit(
            spark.createDataFrame([(n,)], "id long"), table, mode="append"
        )
    schema = StructType([StructField("id", LongType())])
    opts = {"table_path": table, "max_snapshots_per_trigger": "2"}

    for cls in (SnapTableStreamReader, SnapCDFStreamReader):
        # fresh checkpoint: clamp from poll one
        r = cls(dict(opts), schema)
        assert r.latestOffset() == {"snapshot": 1}
        assert r.initialOffset() == {"snapshot": -1}
        assert r.latestOffset() == {"snapshot": 3}

        # restart: the engine re-plans the last offset-log batch first —
        # partitions(start, committed_end) — teaching the fresh reader the
        # committed watermark; the first poll clamps RELATIVE TO it, never
        # below (a clamp from the reset -1 would return snapshot 1 < 3)
        r2 = cls(dict(opts), schema)
        r2.partitions({"snapshot": 3}, {"snapshot": 3})
        assert r2.latestOffset() == {"snapshot": 5}
        r3 = cls(dict(opts), schema)
        r3.partitions({"snapshot": 1}, {"snapshot": 3})
        assert r3.latestOffset() == {"snapshot": 5}
        r4 = cls(dict(opts), schema)
        r4.commit({"snapshot": 3})
        assert r4.latestOffset() == {"snapshot": 5}


def test_set_constraint_revalidates_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A data commit landing between set_constraint's validation scan and
    its manifest claim must NOT slip violating rows under the new
    constraint: the metadata commit is pinned to the validated head, the
    conflict forces a re-validation, and the constraint is refused."""
    import pytest as _pytest

    from event_stream_spark.sources import snaplog
    from event_stream_spark.sources.snaplog import (
        CommitConflict,
        ConstraintViolation,
        _read_manifest,
        commit,
        set_constraint,
        snapshots,
    )

    table = str(tmp_path / "t")
    commit(spark.createDataFrame([(1,), (2,)], "v long"), table, mode="append")

    # _metadata_commit with a stale expected parent conflicts loudly
    commit(spark.createDataFrame([(3,)], "v long"), table, mode="append")
    with _pytest.raises(CommitConflict):
        snaplog._metadata_commit(
            table, lambda m: None, expected_parent=snapshots(table)[-1] - 1
        )

    # race injection: the FIRST validation scan triggers a concurrent
    # commit of a VIOLATING row right after it reads its head
    real_read = snaplog.read_snapshot
    fired = {"n": 0}

    def racing_read(spark_, table_, **kw):
        df = real_read(spark_, table_, **kw)
        if fired["n"] == 0:
            fired["n"] = 1
            commit(
                spark.createDataFrame([(-7,)], "v long"),
                table_,
                mode="append",
            )
        return df

    monkeypatch.setattr(snaplog, "read_snapshot", racing_read)
    with _pytest.raises(ConstraintViolation, match="violate"):
        set_constraint(spark, table, "v_pos", "v >= 0")
    assert fired["n"] == 1  # the race actually fired
    head = snapshots(table)[-1]
    assert "v_pos" not in _read_manifest(table, head).get("constraints", {})

    # a concurrent commit of CLEAN rows: retry re-validates and succeeds
    fired["n"] = 0

    def racing_clean(spark_, table_, **kw):
        df = real_read(spark_, table_, **kw)
        if fired["n"] == 0:
            fired["n"] = 1
            commit(
                spark.createDataFrame([(9,)], "v long"),
                table_,
                mode="append",
            )
        return df

    monkeypatch.setattr(snaplog, "read_snapshot", racing_clean)
    # the violating -7 row is in the table now; constrain differently
    set_constraint(spark, table, "v_small", "v < 100")
    head = snapshots(table)[-1]
    assert _read_manifest(table, head)["constraints"]["v_small"] == "v < 100"


def test_cdf_maintained_join_view_through_dml_script(spark, tmp_path):
    """Join-view IVM (the bilinear case): V = fact ⋈ dim maintains itself
    from BOTH tables' snapcdf feeds through a DML script — appends on
    each side, a dim attribute update (every joined row it touches
    updates), a fact DV delete, duplicate fact rows (multiplicity > 1),
    a SAME-BATCH fact+dim insert pair (the ΔF ⋈ ΔD cross term), a dim
    delete that removes join partners, and a plain dim OVERWRITE (the
    logical-diff fallback) — with a stream restart mid-script and a
    replayed batch, always matching the batch join over the latest
    snapshots."""
    import os

    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where,
        delete_where_dv,
        merge_upsert,
        read_changes,
        read_snapshot,
    )
    from event_stream_spark.streaming.cdfjoin import (
        apply_cdf_join_batch,
        maintain_cdf_join_view,
        read_join_view,
    )

    snapstream.register(spark)
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def facts(rows):
        return spark.createDataFrame(rows, "id long, fk long, v long")

    def dims(rows):
        return spark.createDataFrame(rows, "pk long, attr string")

    def batch_truth():
        f, d = read_snapshot(spark, fact), read_snapshot(spark, dim)
        j = (
            f.join(d, f.fk == d.pk)
            .groupBy("id", "fk", "v", "pk", "attr")
            .count()
        )
        return {
            (r.id, r.fk, r.v, r.pk, r.attr, r["count"]) for r in j.collect()
        }

    def view_now():
        v = read_join_view(spark, view)
        if v is None:
            return set()
        return {(r.id, r.fk, r.v, r.pk, r.attr, r.m) for r in v.collect()}

    def run():
        q = maintain_cdf_join_view(
            spark, fact, dim, view, ckpt, fact_key="fk", dim_key="pk"
        )
        q.awaitTermination(120)

    # phase 1: appends on both sides (key 4 has no dim partner), a dim
    # update, a fact DV delete, and a DUPLICATE fact row (m = 2)
    commit(facts([(i, i % 5, 10 * i) for i in range(10)]), fact)
    commit(dims([(k, f"attr{k}") for k in range(4)]), dim)
    merge_upsert(
        spark, dim, dims([(2, "attr2x"), (5, "attr5")]),
        key="pk", change_feed=True,
    )
    delete_where_dv(spark, fact, "id IN (1, 6)", change_feed=True)
    commit(facts([(3, 3, 30)]), fact, mode="append")  # duplicates id=3 row
    run()
    assert view_now() == batch_truth()
    assert any(m == 2 for *_, m in view_now())  # the duplicate joined

    # phase 2, same run: fact rows AND their dim partner land together —
    # one availableNow drain carries both feeds, exercising ΔF ⋈ ΔD
    commit(facts([(100, 7, 700), (101, 7, 701)]), fact, mode="append")
    commit(dims([(7, "attr7")]), dim, mode="append")
    run()
    assert view_now() == batch_truth()
    assert any(fk == 7 for _, fk, *_ in view_now())

    # replay idempotence: a hand-tagged batch re-applied with ITS OWN id
    # recomputes from the same predecessor — no double-count
    from pyspark.sql import functions as F

    last_id = max(int(d[1:]) for d in os.listdir(view) if d.startswith("v"))
    ch = read_changes(spark, fact, since=1, until=2).select(
        F.lit("f").alias("_side"),
        "id", "fk", "v",
        F.lit(None).cast("long").alias("pk"),
        F.lit(None).cast("string").alias("attr"),
        "_change_type",
    )
    kw = dict(
        fact_key="fk", dim_key="pk",
        fact_cols=["id", "fk", "v"], dim_cols=["pk", "attr"],
    )
    apply_cdf_join_batch(ch, last_id + 1, view, **kw)
    after_first = view_now()
    apply_cdf_join_batch(ch, last_id + 1, view, **kw)
    assert view_now() == after_first
    import shutil as _shutil

    _shutil.rmtree(os.path.join(view, f"v{last_id + 1}"))
    assert view_now() == batch_truth()

    # phase 3: a dim delete REMOVES JOIN PARTNERS (fact rows with fk=0
    # survive in fstate but leave the view), then a plain dim overwrite
    # (no recorded cdc -> logical diff), then a fact append; RESTART
    delete_where(spark, dim, "pk = 0", change_feed=True)
    snap = read_snapshot(spark, dim)
    commit(snap.filter("pk != 3").cache(), dim, mode="overwrite")
    commit(facts([(200, 2, 2000)]), fact, mode="append")
    run()
    truth = batch_truth()
    assert view_now() == truth
    assert not any(fk == 0 for _, fk, *_ in view_now())  # partners gone
    assert not any(pk == 3 for *_, pk, _a, _m in view_now())
    assert any(i == 200 for i, *_ in view_now())


def test_task_retry_chaos_sinks():
    """TASK-level retry safety for the exactly-once sinks (splay files,
    token-shard export, snaplog commit): a fault injected into one
    executor task AFTER it published partial output must leave final
    output with no duplicates and no torn files.  Runs in a subprocess
    because task retries need the local[N, F] master form, which the
    shared session doesn't use (see scripts/chaos_sinks.py)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "chaos_sinks.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    last = [l for l in proc.stdout.splitlines() if l.startswith('{"ok"')]
    result = json.loads(last[-1])
    assert result == {
        "ok": True, "splay_files": 40, "shard_files": 20, "snap_rows": 1000,
        "vacuum_merge_rows": 800,
    }


def test_streaming_neardup_state_ttl_bound(spark, tmp_path):
    """State-size policy for streaming near-dup: without a TTL the
    first-claim state grows with every distinct bucket the stream ever
    touches; with claim_ttl_ms the state is bounded by the buckets of a
    TTL window — measured via the state-store metrics — while in-horizon
    duplicates keep flagging and a post-horizon duplicate re-claims
    freshly (the documented recency trade)."""
    import json
    import os
    import time

    from event_stream_spark.streaming.neardup import neardup_collisions

    def txt(i):
        return (
            f"document number {i} carries tokens {i * 7} and {i * 13} "
            f"plus {i * 29} tail"
        )

    def make_feed(src):
        os.makedirs(src)
        n = {"i": 0}

        def feed(rows):
            n["i"] += 1
            tmp = src + f".tmp{n['i']}"
            with open(tmp, "w") as fh:
                for d, t in rows:
                    fh.write(json.dumps({"doc_id": d, "text": t}) + "\n")
            os.replace(tmp, os.path.join(src, f"w{n['i']:03d}.json"))

        return feed

    def start(src, ckpt, got, ttl):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        w = (
            neardup_collisions(stream, claim_ttl_ms=ttl)
            .writeStream.foreachBatch(
                lambda b, _i: got.update(
                    (r.doc_id, r.band_id, r.first_doc_id) for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if ttl is not None:
            # processing-time timeouts need the engine ticking without
            # data (processAllAvailable never settles — the engine keeps
            # scheduling timeout-check batches)
            w = w.trigger(processingTime="300 milliseconds")
        return w.start()

    def state_rows(q):
        p = q.lastProgress
        return p["stateOperators"][0]["numRowsTotal"] if p else 0

    def wait_until(pred, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if pred():
                return
            time.sleep(0.3)
        raise AssertionError("condition not reached")

    # unbounded (no TTL): state grows with stream length
    srcA = str(tmp_path / "feedA")
    feedA = make_feed(srcA)
    gotA: set = set()
    qA = start(srcA, str(tmp_path / "ckptA"), gotA, None)
    sizes = []
    try:
        for w in range(3):
            feedA([(w * 20 + j, txt(w * 20 + j)) for j in range(20)])
            qA.processAllAvailable()
            sizes.append(state_rows(qA))
    finally:
        qA.stop()
    assert sizes[0] < sizes[1] < sizes[2], sizes
    assert sizes[2] >= 2.5 * sizes[0], sizes  # ~linear in stream length

    # TTL: claims live for the horizon, then evict — idle state is ZERO
    # (45 s horizon: the in-horizon duplicate below must be PROCESSED
    # before the first wave's claims expire, and a stateful microbatch
    # here costs 3-15 s wall depending on machine load — 2 s flaked under
    # a full-suite run, 6 s flaked even solo once batch latency grew past
    # it in the r11 session.  The horizon only slows the two idle-expiry
    # waits; it does not weaken what is being proved.)
    ttl = 45000
    srcB = str(tmp_path / "feedB")
    feedB = make_feed(srcB)
    gotB: set = set()
    qB = start(srcB, str(tmp_path / "ckptB"), gotB, ttl)
    try:
        feedB([(i, txt(i)) for i in range(20)])
        wait_until(lambda: state_rows(qB) >= sizes[0])  # claims registered
        peak1 = state_rows(qB)
        # an IN-HORIZON duplicate flags against the live claim
        feedB([(1000, txt(3))])
        wait_until(lambda: any(d == 1000 and f == 3 for d, _b, f in gotB))

        # idle past the horizon: every lease expires, state returns to 0
        # (the expiry waits scale with the widened horizon, hence the
        # raised timeout)
        wait_until(lambda: state_rows(qB) == 0, timeout=240)

        # a POST-HORIZON duplicate re-claims freshly — NOT a collision —
        # and a second wave peaks at one wave's size, not cumulative
        feedB([(2000, txt(3))] + [(100 + j, txt(100 + j)) for j in range(20)])
        wait_until(lambda: state_rows(qB) >= sizes[0])
        peak2 = state_rows(qB)
        assert peak2 <= peak1 + 8, (peak1, peak2)  # bounded, not growing
        assert not any(d == 2000 for d, _b, _f in gotB)
        wait_until(lambda: state_rows(qB) == 0, timeout=240)  # evicts again
    finally:
        qB.stop()


def test_column_mapping_rename_drop_evolution(spark, tmp_path):
    """Delta-style COLUMN MAPPING in the snapshot log: rename and drop
    are metadata-only commits (zero data movement) — new reads use the
    new names, time travel surfaces each snapshot under ITS OWN names,
    the change feed carries the whole window under the latest names,
    appends and DML speak the new schema, a re-added dropped name never
    resurrects the old bytes, constraints block DDL on columns they
    reference, and the streaming legs refuse loudly (resync from batch,
    the Delta no-schemaTrackingLocation stance)."""
    import os

    import pytest as _pytest

    from event_stream_spark.sources import snapstream
    from event_stream_spark.sources.snaplog import (
        commit,
        delete_where,
        drop_column,
        merge_upsert,
        read_changes,
        read_snapshot,
        rename_column,
        restore,
        set_constraint,
        snapshots,
    )

    snapstream.register(spark)
    table = str(tmp_path / "t")

    def rows(rng, lang):
        return spark.createDataFrame(
            [(i, 10 * i, lang) for i in rng], "id long, v long, lang string"
        )

    commit(rows(range(5), "en"), table, stats_cols=["id"])          # snap 0
    commit(rows(range(5, 8), "de"), table, mode="append",
           stats_cols=["id"])                                        # snap 1
    set_constraint(spark, table, "v_pos", "v >= 0")                  # snap 2

    def files_on_disk():
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(table, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    # constrained column: rename and drop both refused
    with _pytest.raises(ValueError, match="v_pos"):
        rename_column(spark, table, "v", "val")
    with _pytest.raises(ValueError, match="v_pos"):
        drop_column(spark, table, "v")

    # rename lang -> language: METADATA ONLY (no data file moves)
    before = files_on_disk()
    rename_column(spark, table, "lang", "language")                  # snap 3
    assert files_on_disk() == before
    cur = read_snapshot(spark, table)
    assert cur.columns == ["id", "v", "language"]
    assert {(r.id, r.language) for r in cur.collect()} == {
        (i, "en") for i in range(5)
    } | {(i, "de") for i in range(5, 8)}

    # time travel: the pre-rename snapshot reads under the OLD name
    old = read_snapshot(spark, table, snapshot=1)
    assert old.columns == ["id", "v", "lang"]
    assert old.filter("lang = 'de'").count() == 3

    # appends speak the NEW schema; the old name is drift and rejected
    commit(
        spark.createDataFrame([(100, 1000, "fr")],
                              "id long, v long, language string"),
        table, mode="append", stats_cols=["id"],
    )                                                                # snap 4
    with _pytest.raises(ValueError, match="schema mismatch"):
        commit(rows(range(200, 201), "xx"), table, mode="append")
    assert read_snapshot(spark, table).filter(
        "language = 'fr'"
    ).count() == 1

    # the change feed surfaces the WHOLE window under the latest names
    ch = read_changes(spark, table, since=-1)
    assert "language" in ch.columns and "lang" not in ch.columns
    langs = {(r.id, r.language) for r in ch.collect()}
    assert (0, "en") in langs and (100, "fr") in langs

    # DML under the mapping: copy-on-write delete + merge, new names
    delete_where(spark, table, "language = 'de'", change_feed=True)  # snap 5
    assert read_snapshot(spark, table).filter(
        "language = 'de'"
    ).count() == 0
    merge_upsert(
        spark, table,
        spark.createDataFrame([(0, 7, "es")],
                              "id long, v long, language string"),
        key="id", change_feed=True,
    )                                                                # snap 6
    got = {
        (r.id, r.v, r.language)
        for r in read_snapshot(spark, table).collect()
    }
    assert (0, 7, "es") in got and (100, 1000, "fr") in got
    # the recorded cdc sidecars also surface under the latest names
    ch2 = read_changes(spark, table, since=5)
    assert {(r.id, r._change_type, r.language) for r in ch2.collect()} >= {
        (0, "update_postimage", "es")
    }

    # drop + re-add: the re-added column is NEW — old bytes stay buried
    drop_column(spark, table, "language")                            # snap 7
    assert read_snapshot(spark, table).columns == ["id", "v"]
    commit(
        spark.createDataFrame([(300, 3, "zz")],
                              "id long, v long, language string"),
        table, mode="append", allow_added_columns=True,
    )                                                                # snap 8
    readd = {
        (r.id, r.language) for r in read_snapshot(spark, table).collect()
    }
    assert (300, "zz") in readd
    assert all(lg is None for i, lg in readd if i != 300), readd
    # ... while time travel still reads the dropped values
    assert read_snapshot(spark, table, snapshot=6).filter(
        "language = 'es'"
    ).count() == 1

    # constraints survive the whole history: violating append still dies
    from event_stream_spark.sources.snaplog import ConstraintViolation

    with _pytest.raises(ConstraintViolation):
        commit(
            spark.createDataFrame([(9, -1, "xx")],
                                  "id long, v long, language string"),
            table, mode="append",
        )

    # streaming legs refuse a mapped table loudly
    with _pytest.raises(Exception, match="column mapping"):
        (
            spark.readStream.format("snaptable")
            .option("table_path", table)
            .load()
        )

    # restore across the rename: the old logical schema comes back with
    # the old data, and a fresh read uses it
    restore(spark, table, 1)                                         # snap 9
    back = read_snapshot(spark, table)
    assert back.columns == ["id", "v", "lang"]
    assert back.filter("lang = 'de'").count() == 3
    assert len(snapshots(table)) == 10  # nothing rewrote history


def test_row_merge_rejects_null_merge_key(spark, tmp_path):
    """ADVICE r10 (low): a NULL merge key can neither full_outer-join its
    three versions nor be replaced by the anti-join (null never
    equi-joins), so a null-key upsert would silently duplicate —
    merge_branch_rows must refuse up front instead."""
    import pytest as _pytest

    from event_stream_spark.sources.snapbranch import (
        create_branch,
        merge_branch_rows,
    )
    from event_stream_spark.sources.snaplog import commit, read_snapshot

    table = str(tmp_path / "tbl")
    commit(
        spark.range(5).selectExpr("id AS k", "id AS v"),
        table,
        stats_cols=["k"],
    )
    bt = create_branch(table, "nulls")
    commit(
        spark.createDataFrame([(None, 999)], "k long, v long"),
        bt,
        mode="append",
        stats_cols=["k"],
    )
    with _pytest.raises(ValueError, match="NULL 'k'"):
        merge_branch_rows(spark, table, "nulls", key="k")
    # main is untouched: no partial merge, no duplicate
    assert read_snapshot(spark, table).count() == 5


def test_snapshot_log_delta_manifests_and_checkpoints(spark, tmp_path):
    """VERDICT r10 #1 (metadata scaling): commits persist O(delta)
    manifest records, every K-th commit writes a self-contained
    checkpoint, readers resolve any snapshot from one anchor plus a
    bounded delta tail, DML deltas stay O(touched files), and vacuum
    checkpoints the retention edge so dropping old manifests never
    strands a kept tail."""
    import os

    from event_stream_spark.sources import snaplog
    from event_stream_spark.sources.snaplog import (
        SNAP_CHECKPOINT_EVERY,
        _ckpt_path,
        _load_raw,
        _manifest_path,
        _read_manifest,
        added_files,
        commit,
        merge_upsert,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path / "tbl")
    n_commits = SNAP_CHECKPOINT_EVERY + 5
    for i in range(n_commits):
        commit(
            spark.range(i * 10, i * 10 + 10)
            .repartition(2)
            .selectExpr("id AS k", "id AS v"),
            table,
            stats_cols=["k"],
        )
    head = n_commits - 1

    # every append after snapshot 0 is a DELTA record on disk
    raw = _load_raw(table, head)
    assert "files_delta" in raw and "files" not in raw
    assert len(raw["files_delta"]["add"]) == 2  # this commit's two files
    assert "remove" not in raw["files_delta"]

    # the cadence checkpoint exists and is self-contained (full files)
    ck = _ckpt_path(table, SNAP_CHECKPOINT_EVERY)
    assert os.path.exists(ck)
    # commit bytes ∝ delta: a late delta record is a small fraction of
    # the full state the checkpoint carries
    assert os.path.getsize(_manifest_path(table, head)) * 5 < os.path.getsize(ck)
    # ... and does not grow with table size: last delta ≈ first delta
    assert (
        os.path.getsize(_manifest_path(table, head))
        < 2 * os.path.getsize(_manifest_path(table, 1))
    )

    # resolution is correct for head AND time travel across deltas
    assert read_snapshot(spark, table).count() == n_commits * 10
    assert read_snapshot(spark, table, snapshot=10).count() == 110
    # added_files uses the O(delta) fast path and agrees with the diff
    assert len(added_files(table, head)) == 2

    # bounded resolve: a COLD resolve of head touches at most the delta
    # tail back to the nearest checkpoint, never the whole log
    snaplog._MANIFEST_CACHE.clear()
    loads = []
    orig = snaplog._load_raw

    def counting(t, n):
        loads.append(n)
        return orig(t, n)

    snaplog._load_raw = counting
    try:
        assert read_snapshot(spark, table).count() == n_commits * 10
    finally:
        snaplog._load_raw = orig
    assert len(loads) <= head - SNAP_CHECKPOINT_EVERY + 1, loads

    # a DML rewrite stays O(touched): one file rewritten → one remove,
    # one add (plus nothing else), not a restatement of ~50 entries
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(5, 9999)], "k long, v long"),
        key="k",
        stats_cols=["k"],
    )
    raw = _load_raw(table, head + 1)
    d = raw["files_delta"]
    # O(touched files): the key's stats-overlapping files (both part
    # files of commit 0 — hash partitioning spans the range) rewritten
    # into one, everything else carried implicitly — never a
    # restatement of the ~50 untouched entries
    n_delta = len(d.get("remove", [])) + len(d.get("add", []))
    assert n_delta <= 6, d

    # vacuum checkpoints the retention edge, then drops old manifests +
    # stale checkpoints; a cold reader still resolves every kept id
    vacuum(table, keep_last=3, tmp_ttl_s=0.0)
    assert not os.path.exists(ck)  # pre-horizon checkpoint swept
    snaplog._MANIFEST_CACHE.clear()
    df = read_snapshot(spark, table)
    assert df.count() == n_commits * 10
    assert {r.v for r in df.where("k = 5").collect()} == {9999}
    assert read_snapshot(spark, table, snapshot=head).count() == n_commits * 10

    # keep_last=1 with a DELTA-encoded head: once every predecessor
    # manifest is dropped, the head's ONLY anchor is the edge checkpoint
    # vacuum wrote for it — a cold reader must resolve from that alone
    vacuum(table, keep_last=1, tmp_ttl_s=0.0)
    assert os.path.exists(_ckpt_path(table, head + 1))
    snaplog._MANIFEST_CACHE.clear()
    assert read_snapshot(spark, table).count() == n_commits * 10


def test_manifest_reads_share_cache_no_copy(spark, tmp_path):
    """VERDICT r10 #3: ``_read_manifest`` must NOT copy per call — at the
    100 TB design point (~800k file entries) a per-read deepcopy is
    seconds of driver work on a WARM cache.  Reads hand out the cached
    object by reference (identity-asserted), mutating paths copy their
    own view (a metadata commit must not corrupt the cached manifest of
    the snapshot it derives from), and the LRU survives concurrent
    get/evict races (ADVICE r11: lock, not bare OrderedDict ops)."""
    import threading

    from event_stream_spark.sources import snaplog
    from event_stream_spark.sources.snaplog import (
        _read_manifest,
        commit,
        read_snapshot,
        set_constraint,
        snapshots,
    )

    table = str(tmp_path / "tbl")
    commit(spark.range(10).selectExpr("id AS k", "id*2 AS v"), table)
    commit(
        spark.range(10, 20).selectExpr("id AS k", "id*2 AS v"),
        table,
        mode="append",
    )

    # identity: two reads return the SAME dict and the SAME files list
    snaplog._MANIFEST_CACHE.clear()
    m1 = _read_manifest(table, 1)
    m2 = _read_manifest(table, 1)
    assert m1 is m2
    assert m1["files"] is m2["files"]

    # a metadata-only commit derives from snapshot 1 but must not mutate
    # the cached object readers already hold
    before = (dict(m1), list(m1["files"]))
    set_constraint(spark, table, "k_nonneg", "k >= 0")
    assert dict(m1) == before[0]
    assert list(m1["files"]) == before[1]
    assert "constraints" not in m1  # snapshot 1 predates the constraint
    m3 = _read_manifest(table, snapshots(table)[-1])
    assert m3["constraints"] == {"k_nonneg": "k >= 0"}
    # the new head's kept entries share the predecessor's entry dicts —
    # O(delta) memory, not a restated copy of the file list
    assert all(any(e is p for p in m1["files"]) for e in m3["files"])

    # LRU race: hammer get/move_to_end against evictions from another
    # thread — unlocked OrderedDict ops KeyError here
    stop = threading.Event()
    errs: list = []

    def churn():
        i = 0
        while not stop.is_set():
            with snaplog._MANIFEST_LOCK:
                snaplog._MANIFEST_CACHE[("x", i)] = {"files": []}
                while len(snaplog._MANIFEST_CACHE) > 2:
                    snaplog._MANIFEST_CACHE.popitem(last=False)
            i += 1

    def read_loop():
        try:
            for _ in range(300):
                _read_manifest(table, 1)
        except Exception as exc:  # pragma: no cover - the regression
            errs.append(exc)

    t1 = threading.Thread(target=churn)
    t2 = threading.Thread(target=read_loop)
    t1.start(); t2.start()
    t2.join(); stop.set(); t1.join()
    assert errs == []
    assert read_snapshot(spark, table).count() == 20


def test_snapshot_table_reregistration_keeps_inflight_reader_files(
    spark, tmp_path
):
    """VERDICT r10 #6: re-registering a catalog name at a newer snapshot
    must not rmtree the old view dir under a scan of the previously
    registered table — the sweep is TTL-age-gated like vacuum.  A plan
    bound to the old dir still collects after re-registration; only a
    registration after the TTL reclaims the stale dir."""
    import glob
    import os
    import time

    from event_stream_spark.sources.snapcatalog import snapshot_table
    from event_stream_spark.sources.snaplog import commit

    table = str(tmp_path / "tbl")
    commit(spark.range(100).selectExpr("id AS k", "id * 2 AS v"), table)
    snapshot_table(spark, table, "cat_fence", snapshot=0)
    old_dirs = glob.glob(os.path.join(table, "_catalog", "cat_fence-s*"))
    assert len(old_dirs) == 1
    # a reader binds to the OLD dir (the files a mid-flight scan holds)
    inflight = spark.read.parquet(old_dirs[0])
    assert inflight.count() == 100  # plan resolved against old files

    commit(
        spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"),
        table, mode="append",
    )
    snapshot_table(spark, table, "cat_fence", snapshot=1)
    # the catalog table moved...
    assert spark.table("cat_fence").count() == 150
    # ...but the old dir survived the sweep (younger than the TTL), so
    # the in-flight reader completes
    assert os.path.isdir(old_dirs[0])
    assert inflight.count() == 100

    # age the old dir past the TTL: the next registration reclaims it
    past = time.time() - 10
    os.utime(old_dirs[0], (past, past))
    snapshot_table(spark, table, "cat_fence", snapshot=1, sweep_ttl_s=5.0)
    assert not os.path.isdir(old_dirs[0])
    spark.sql("DROP TABLE IF EXISTS cat_fence")


def test_vacuum_spares_fresh_empty_commit_dirs(spark, tmp_path):
    """Chaos-family-5 regression (r11): a merge/commit creates its data
    dir and links files into it moments later — vacuum's empty-dir
    sweep must TTL-guard that window exactly like fresh files, or the
    first link dies on a vanished parent.  Ditto the _dv empty-dir
    sweep."""
    import os
    import time

    from event_stream_spark.sources.snaplog import commit, vacuum

    table = str(tmp_path / "tbl")
    commit(spark.range(10).selectExpr("id AS k"), table)

    fresh = os.path.join(table, "data", "c000000000099-deadbeef0001")
    os.makedirs(fresh)  # the just-makedirs'd merge dir, no links yet
    dv_fresh = os.path.join(table, "_dv", "d000000000099-deadbeef0002")
    os.makedirs(dv_fresh)
    vacuum(table, keep_last=1, tmp_ttl_s=5.0)
    assert os.path.isdir(fresh)  # inside the TTL: the window is protected
    assert os.path.isdir(dv_fresh)

    past = time.time() - 60
    os.utime(fresh, (past, past))
    os.utime(dv_fresh, (past, past))
    vacuum(table, keep_last=1, tmp_ttl_s=5.0)
    assert not os.path.isdir(fresh)  # aged out: truly abandoned
    assert not os.path.isdir(dv_fresh)


def test_vacuum_tmp_manifest_sweep_is_ttl_gated(spark, tmp_path):
    """The .tmp- manifest sweep removes only STALE leftovers: a fresh tmp
    (a committer inside its open->link->remove window) survives vacuum; an
    aged one (a writer killed mid-commit) is swept.  The concurrent-vanish
    tolerance on the same path is chaos-proven (scripts/chaos_sinks.py
    family 5)."""
    import os
    import time

    from event_stream_spark.sources.snaplog import _log_dir, commit, vacuum

    table = str(tmp_path / "tbl")
    commit(spark.range(5).selectExpr("id AS k"), table)

    fresh = os.path.join(_log_dir(table), ".tmp-live-000000000002.json")
    stale = os.path.join(_log_dir(table), ".tmp-dead-000000000003.json")
    for p in (fresh, stale):
        with open(p, "w") as fh:
            fh.write("{}")
    past = time.time() - 60
    os.utime(stale, (past, past))

    vacuum(table, keep_last=1, tmp_ttl_s=5.0)
    assert os.path.exists(fresh)  # live committer's window is protected
    assert not os.path.exists(stale)  # dead writer's leftover is swept
