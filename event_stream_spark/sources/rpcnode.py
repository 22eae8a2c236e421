"""Localhost HTTP RPC transport for the polling/historical paths — the
real-wire upgrade for S3–S7, matching the reference's fetch model.

The reference's historical and polling sources speak Tendermint HTTP RPC:
``TendermintServiceOpenApiClient`` issues ``/status``-style head probes and
two GETs per height — ``/block?height=H`` and ``/block_results?height=H``
(es-core/.../stream/clients/TendermintServiceOpenApiClient.kt:29-41,
TendermintBlockFetcher.kt:36-46 — the J1 join's two legs) — through one
OkHttp client that pools keep-alive connections (es-cli Main.kt:74-101).
This module provides both halves over a real socket:

- ``RpcNodeServer`` — stdlib ``ThreadingHTTPServer`` exposing ``/status``,
  ``/block`` and ``/block_results`` over any inner content node
  (FixtureNode replays the golden corpus, SyntheticNode serves the fake
  chain); a height the node has no payload for answers 404.  It speaks
  HTTP/1.1 keep-alive with ``TCP_NODELAY``, as a Tendermint node (Go
  ``net/http``) does: one thread per connection, many requests per
  connection, every answer (404 and 502 included) with a ``Content-Length``
  so the connection stays open.  ``connections`` counts accepted TCP
  connections; ``close()`` also shuts the open ones, so a closed node stops
  answering.  ``fail_next(n)`` makes the next *n* requests return 502 — the
  reference's retryable server-error class (EventStream.kt:222-233) — for
  failure-injection tests.

- ``HttpNode`` — the NetAdapter-seam client (``backend="http"``): ``head()``
  = GET /status, ``fetch(h)`` = the two per-height GETs, all on one
  persistent ``http.client`` connection per node.  Nodes are built per
  ``read()``, so a backfill partition or a live trigger dials once, like
  ``grpcwire.GrpcNode``.  404 is the only missing-block answer; every other
  status raises ``urllib.error.HTTPError``, and a socket fault (a dropped or
  stale connection included) closes the connection so the next attempt
  redials.  Both are retried with exponential backoff
  (``streaming.retry.retry_node_call``, Backoff.kt:30-41) and raised once
  the retries are spent, so a throttled or failing node never reads as a
  gap.  ``http.client`` does not read ``*_proxy`` environment variables.
  Executors issue these GETs from ``read()`` workers — the fan-out
  across partitions IS the reference's chunk × ``async`` concurrency,
  scheduled by Spark.
"""

from __future__ import annotations

import http.client
import io
import json
import socket
import threading
import urllib.error
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from event_stream_spark.streaming.retry import retry_node_call


class RpcNodeServer:
    """Tendermint-RPC-shaped HTTP/1.1 keep-alive server over an inner
    content node."""

    def __init__(self, node, host: str = "127.0.0.1", port: int = 0):
        self.node = node
        self.requests = 0
        self.connections = 0
        self._fail_budget = 0
        self._head_override: int | None = None
        self._lock = threading.Lock()
        self._socks: set[socket.socket] = set()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # keep-alive; without TCP_NODELAY each response's body segment
            # waits for the client's delayed ACK of its headers (Nagle)
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True

            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                with outer._lock:
                    outer.requests += 1
                    failing = outer._fail_budget > 0
                    if failing:
                        outer._fail_budget -= 1
                if failing:
                    self._reply(502, b"injected upstream failure")
                    return
                url = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(url.query)
                try:
                    body = outer._route(url.path, qs)
                except KeyError:
                    self._reply(404, b"not found")
                    return
                self._reply(200, body.encode(), "application/json")

            def _reply(self, code: int, data: bytes, ctype: str = "text/plain") -> None:
                # a Content-Length on every answer keeps the connection open
                # (``send_error`` would add ``Connection: close``)
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        class Server(ThreadingHTTPServer):
            # tracked on the accept thread, so once ``shutdown()`` returns
            # every accepted connection is in ``_socks``
            def process_request(self, request, client_address):
                with outer._lock:
                    outer.connections += 1
                    outer._socks.add(request)
                super().process_request(request, client_address)

            def shutdown_request(self, request):
                with outer._lock:
                    outer._socks.discard(request)
                super().shutdown_request(request)

        self._srv = Server((host, port), Handler)
        self.host, self.port = self._srv.server_address[:2]
        self.url = f"http://{self.host}:{self.port}"
        threading.Thread(target=self._srv.serve_forever, daemon=True).start()

    def _route(self, path: str, qs: dict) -> str:
        if path == "/status":
            head = (
                self._head_override
                if self._head_override is not None
                else self.node.head()
            )
            return json.dumps(
                {
                    "jsonrpc": "2.0",
                    "result": {"sync_info": {"latest_block_height": str(head)}},
                }
            )
        if path in ("/block", "/block_results"):
            height = int(qs["height"][0])
            block, results = self.node.fetch(height)
            body = block if path == "/block" else results
            if body is None:
                raise KeyError(path)
            return body
        raise KeyError(path)

    def set_head(self, height: int) -> None:
        """Advance the advertised chain head (simulated block production) —
        heights above the inner node's corpus just fetch as missing."""
        self._head_override = int(height)

    def fail_next(self, n: int) -> None:
        """The next ``n`` requests answer 502 (retryable server error)."""
        with self._lock:
            self._fail_budget = n

    def close(self) -> None:
        """Stop accepting, then shut every open keep-alive connection: a
        closed node answers nothing more, and ``server_close`` (which joins
        the connection threads) does not wait on idle clients."""
        self._srv.shutdown()
        with self._lock:
            socks = list(self._socks)
        for sock in socks:
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        self._srv.server_close()


class HttpNode:
    """NetAdapter-seam client for ``backend="http"`` (option ``rpc_url``,
    ``http[s]://host[:port][/path]``; the path prefixes every GET).

    Every GET goes over one persistent HTTP/1.1 connection, dialled on first
    use.  A 404 (a genuinely missing height) surfaces as a missing payload,
    mirroring FixtureNode's None; any other status raises
    ``urllib.error.HTTPError`` (an ``OSError``) on the same connection.  A
    connection fault closes the connection, so its retry dials a fresh one.
    Both are retried with backoff, then raised.
    One instance serves one task (``_make_node`` builds one per ``read()``);
    it is not shared across threads."""

    def __init__(self, options: dict):
        self.url = (options.get("rpc_url") or "").rstrip("/")
        if not self.url:
            raise ValueError("http backend needs rpc_url")
        parts = urllib.parse.urlsplit(self.url)
        conn_cls = {
            "http": http.client.HTTPConnection,
            "https": http.client.HTTPSConnection,
        }.get(parts.scheme)
        if conn_cls is None or not parts.hostname:
            raise ValueError(f"rpc_url must be http(s)://host[:port][/path], got {self.url!r}")
        self._prefix = parts.path
        self._conn = conn_cls(parts.hostname, parts.port, timeout=10)

    def _get(self, path: str) -> str | None:
        return retry_node_call(lambda: self._get_once(path))

    def _get_once(self, path: str) -> str | None:
        try:
            self._conn.request("GET", self._prefix + path)
            resp = self._conn.getresponse()
            body = resp.read()
        except (OSError, http.client.HTTPException):
            self._conn.close()  # stream state unknown: the retry redials
            raise
        if resp.status == 404:
            return None  # missing height, not a fault
        if not 200 <= resp.status < 300:
            raise urllib.error.HTTPError(
                self.url + path, resp.status, resp.reason, resp.headers,
                io.BytesIO(body),
            )
        return body.decode()

    def close(self) -> None:
        self._conn.close()

    def head(self) -> int:
        body = self._get("/status")
        if body is None:
            raise ValueError("status endpoint unavailable")
        return int(json.loads(body)["result"]["sync_info"]["latest_block_height"])

    def fetch(self, height: int) -> tuple[str | None, str | None]:
        return (
            self._get(f"/block?height={height}"),
            self._get(f"/block_results?height={height}"),
        )
