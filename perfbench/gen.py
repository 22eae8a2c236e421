"""Load generator for the block-pipeline benchmark, run as its own process.

Serves ``SyntheticNode`` blocks through ``RpcNodeServer`` over localhost HTTP
and advances the advertised ``/status`` head on a fixed schedule that does not slow
down when the engine does (an open loop):

    head(t) = h0 + floor((t - t0) * rate)

so block ``h > h0`` is due at ``t0 + (h - h0) / rate`` (wall clock, comparable
with sink file mtimes).  The seed sets the chain id.

Control protocol: one JSON object per line on stdin, one reply per line on
stdout.  The first stdout line announces ``{"url": ..., "chain_id": ...}``.

    {"cmd": "schedule", "h0": H0, "rate": R}  -> {"t0": <epoch seconds>}
    {"cmd": "hold", "head": H}                -> {"head": H} (stop advancing;
                                                 "head" optional, sets it)
    {"cmd": "stats"}                          -> {"requests", "cpu_s", "late_ms", "head"}
    {"cmd": "stop"}                           -> {} and exit (EOF also exits)

Run: ``python3 perfbench/gen.py --seed 7 --head 1000``.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time


def chain_id(seed: int) -> str:
    return f"bench-{seed}"


class Schedule:
    """Advances the server's head at ``rate`` blocks/s from ``h0``; records
    how late each step landed relative to its due time."""

    def __init__(self, server, h0: int, rate: float, late_s: list[float]):
        self.server = server
        self.h0 = h0
        self.rate = rate
        self.t0 = time.time()
        self.head = h0
        self.late_s = late_s
        self._stop = threading.Event()
        server.set_head(h0)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        h = self.h0
        while not self._stop.is_set():
            due = self.t0 + (h + 1 - self.h0) / self.rate
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            now = time.time()
            # every height that is due by now becomes visible in one step
            target = self.h0 + int((now - self.t0) * self.rate)
            for k in range(h + 1, target + 1):
                self.late_s.append(now - (self.t0 + (k - self.h0) / self.rate))
            h = max(h, target)
            self.server.set_head(h)
            self.head = h

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _late_ms(late_s: list[float]) -> float:
    """99th-percentile lateness of a head step, in ms (0.0 with no steps)."""
    if not late_s:
        return 0.0
    s = sorted(late_s)
    return 1000.0 * s[min(len(s) - 1, int(0.99 * len(s)))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--head", type=int, required=True, help="initial chain head")
    args = ap.parse_args(argv)

    from event_stream_spark.sources.blockstream import SyntheticNode
    from event_stream_spark.sources.rpcnode import RpcNodeServer

    cid = chain_id(args.seed)
    server = RpcNodeServer(SyntheticNode(cid, head=args.head))
    schedule: Schedule | None = None
    head = args.head
    late_s: list[float] = []  # lateness of every head step, across schedules

    def reply(obj: dict) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"url": server.url, "chain_id": cid})
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg["cmd"]
            if cmd == "schedule":
                if schedule is not None:
                    schedule.stop()
                schedule = Schedule(server, int(msg["h0"]), float(msg["rate"]), late_s)
                reply({"t0": schedule.t0})
            elif cmd == "hold":
                if schedule is not None:
                    schedule.stop()
                head = int(msg.get("head", schedule.head if schedule else head))
                schedule = None
                server.set_head(head)
                reply({"head": head})
            elif cmd == "stats":
                reply(
                    {
                        "requests": server.requests,
                        "cpu_s": time.process_time(),
                        "late_ms": _late_ms(late_s),
                        "head": schedule.head if schedule else head,
                    }
                )
            elif cmd == "stop":
                reply({})
                break
            else:
                raise ValueError(f"unknown command: {cmd!r}")
    finally:
        if schedule is not None:
            schedule.stop()
        server.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
