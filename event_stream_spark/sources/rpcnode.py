"""Localhost HTTP RPC transport for the polling/historical paths — the
real-wire upgrade for S3–S7, matching the reference's fetch model.

The reference's historical and polling sources speak Tendermint HTTP RPC:
``TendermintServiceOpenApiClient`` issues ``/status``-style head probes and
two GETs per height — ``/block?height=H`` and ``/block_results?height=H``
(es-core/.../stream/clients/TendermintServiceOpenApiClient.kt:29-41,
TendermintBlockFetcher.kt:36-46 — the J1 join's two legs).  This module
provides both halves over a real socket:

- ``RpcNodeServer`` — stdlib ``ThreadingHTTPServer`` exposing ``/status``,
  ``/block`` and ``/block_results`` over any inner content node
  (FixtureNode replays the golden corpus, SyntheticNode serves the fake
  chain); a height the node has no payload for answers 404.
  ``fail_next(n)`` makes the next *n* requests return 502 — the
  reference's retryable server-error class (EventStream.kt:222-233) — for
  failure-injection tests.

- ``HttpNode`` — the NetAdapter-seam client (``backend="http"``): ``head()``
  = GET /status, ``fetch(h)`` = the two per-height GETs.  404 is the only
  missing-block answer; every other status and any socket fault is retried
  with exponential backoff (``streaming.retry.retry_node_call``,
  Backoff.kt:30-41) and raised once the retries are spent, so a throttled
  or failing node never reads as a gap.  Executors issue these GETs from
  ``read()`` workers — the fan-out across partitions IS the reference's
  chunk × ``async`` concurrency, scheduled by Spark.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from event_stream_spark.streaming.retry import retry_node_call


class RpcNodeServer:
    """Tendermint-RPC-shaped HTTP server over an inner content node."""

    def __init__(self, node, host: str = "127.0.0.1", port: int = 0):
        self.node = node
        self.requests = 0
        self._fail_budget = 0
        self._head_override: int | None = None
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                with outer._lock:
                    outer.requests += 1
                    if outer._fail_budget > 0:
                        outer._fail_budget -= 1
                        self.send_error(502, "injected upstream failure")
                        return
                url = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(url.query)
                try:
                    body = outer._route(url.path, qs)
                except KeyError:
                    self.send_error(404, "no such endpoint")
                    return
                data = body.encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._srv = ThreadingHTTPServer((host, port), Handler)
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
        self._srv.shutdown()
        self._srv.server_close()


class HttpNode:
    """NetAdapter-seam client for ``backend="http"`` (option ``rpc_url``).

    A 404 (a genuinely missing height) surfaces as a missing payload,
    mirroring FixtureNode's None; any other HTTP status and any connection
    error is retried with backoff, then raised."""

    def __init__(self, options: dict):
        self.url = (options.get("rpc_url") or "").rstrip("/")
        if not self.url:
            raise ValueError("http backend needs rpc_url")

    def _get(self, path: str) -> str | None:
        return retry_node_call(lambda: self._get_once(path))

    def _get_once(self, path: str) -> str | None:
        try:
            with urllib.request.urlopen(self.url + path, timeout=10) as resp:
                return resp.read().decode()
        except urllib.error.HTTPError as exc:
            if exc.code == 404:
                return None  # missing height, not a fault
            raise

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
