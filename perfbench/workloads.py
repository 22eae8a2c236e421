"""The benchmark's workloads and per-layer probes.

Every workload drives the package's public functions only:

- ``backfill``: closed loop of one batch job of 1,200 contiguous heights,
  ``historical_stream(streaming=False, backend="http")`` then
  ``write_splayed_json_batch`` into a fresh directory, repeated on fresh
  ranges only while whole jobs still fit in the window.  A block's latency
  is its file's mtime minus the job's submit time, so the latency metrics
  follow from the job size: p50 is about ``n / (2 * throughput)``.
- ``live_tail``: open loop.  ``combined_block_stream(from=1, to=h0)`` into
  ``splayed_json_sink``; once the backfill leg has drained, the generator
  advances the head at ``rate`` blocks/s and block ``h`` is due at
  ``t0 + (h - h0) / rate``.  A block's latency is its file's mtime minus its
  due time; blocks due in the first ``warm`` seconds are not timed.
- ``analytics``: one pass of ``event_stream_spark.queries.QUERIES`` over a
  seeded parquet lake of TPC-H scale factor 0.1 in a fresh session, each
  result materialized with ``toPandas()``.

Outputs are checked after timing: every height has exactly one file with
the payload ``SyntheticNode``'s rule implies, and every query result matches
its DuckDB twin.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Sizes:
    # heights per backfill job (60 source pages): the range one job covers
    # in a 20-second window at the 60-80 blocks/s measured on a 4-vCPU VM
    backfill_job: int = 1200
    live_h0: int = 60  # height the live tail's backfill leg ends at
    # offered live load, blocks/s: at 20 the engine ran at its capacity in
    # slow spells of a shared VM
    live_rate: float = 10.0
    # the first live micro-batches after the catch-up run 15-25% slower
    # while the live path warms up; blocks due in this lead-in are not timed
    live_warm: float = 5.0
    lake_sf: float = 0.1  # TPC-H scale factor of the analytics lake
    # lake of the analytics pass that traced backfill and live_tail runs add
    # for the queries.* metrics: a cold pass over 0.1 took 55-77 s, against
    # 47 s over 0.01, and left a traced run too close to its deadline
    probe_lake_sf: float = 0.01
    probe_heights: int = 300  # range of the traced prefix-pipeline probes
    probe_live_seconds: float = 3.0
    probe_live_h0: int = 20


FULL = Sizes()
SMOKE = Sizes(
    backfill_job=40,
    live_h0=20,
    lake_sf=0.001,
    probe_lake_sf=0.001,
    probe_heights=40,
    probe_live_seconds=2.0,
    probe_live_h0=20,
    live_warm=1.0,
)


# ---------------------------------------------------------------------------
# Inputs derived from the seed
# ---------------------------------------------------------------------------

def backfill_base(seed: int) -> int:
    """First height of the backfill ranges; far above the live tail's."""
    return 1_000_000 + 10_000 * (seed % 1000)


def live_h0(seed: int, sizes: Sizes) -> int:
    return sizes.live_h0 + seed % 10


def expected_block(height: int) -> tuple[int, int]:
    """(tx_events, tx_errors) counts ``SyntheticNode`` implies for a height:
    one transfer event per tx, and tx ``i`` fails iff ``(h + i) % 10 == 0``."""
    n_txs = height % 3 if height % 3 != 2 else 0
    return n_txs, sum((height + i) % 10 == 0 for i in range(n_txs))


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it: p99 once
    there are 1,000 samples, else the 11th-largest sample."""
    s = sorted(values)
    n = len(s)
    if n >= 1000:
        return s[math.ceil(0.99 * n) - 1]
    return s[max(0, n - 11)]


def tail_label(n: int) -> str:
    return "p99" if n >= 1000 else f"p{100 * max(0, n - 10) / max(n, 1):.0f}"


# ---------------------------------------------------------------------------
# Generator process and run context
# ---------------------------------------------------------------------------

class Generator:
    """Client of the ``gen.py`` load-generator process."""

    def __init__(self, seed: int, head: int, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed), "--head", str(head)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            env=env,
        )
        hello = self._recv()
        self.url = hello["url"]
        self.chain_id = hello["chain_id"]

    def _recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._recv()

    def close(self) -> None:
        try:
            self.call("stop")
        except (OSError, RuntimeError, ValueError):
            pass  # already gone; wait() below reaps it
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)  # generic end-to-end name -> value
    named: dict = field(default_factory=dict)  # workload-specific name -> (value, unit)
    layer: dict = field(default_factory=dict)  # per-layer name -> value


class Context:
    def __init__(self, spark, gen: Generator, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.gen = gen
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        """A new, empty directory: the splay sink skips files that exist, so
        a reused directory would turn a run into a no-op."""
        self._dirs += 1
        path = os.path.join(self.work, f"{self._dirs:03d}-{name}")
        os.makedirs(path, exist_ok=True)
        if os.listdir(path):
            raise RuntimeError(f"output directory not empty: {path}")
        return path

    def tasks_in_group(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) Spark ran under a job group, from ``statusTracker``."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


def _wait(cond, timeout: float, query=None, what: str = "") -> None:
    deadline = time.perf_counter() + timeout
    while not cond():
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


# ---------------------------------------------------------------------------
# Output checks (untimed)
# ---------------------------------------------------------------------------

def splay_files(out_dir: str) -> dict[int, tuple[str, float]]:
    """height -> (path, mtime) of every file the splay sink wrote; raises on
    a file outside the ``<sha256(h)[:4]>/<h:010d>.json`` layout."""
    files: dict[int, tuple[str, float]] = {}
    for splay in os.listdir(out_dir):
        for name in os.listdir(os.path.join(out_dir, splay)):
            path = os.path.join(out_dir, splay, name)
            if not name.endswith(".json"):
                raise RuntimeError(f"unexpected sink file {path}")
            h = int(name[:-5])
            if splay != hashlib.sha256(str(h).encode()).hexdigest()[:4]:
                raise RuntimeError(f"height {h} in the wrong splay directory")
            if h in files:
                raise RuntimeError(f"height {h} written twice")
            files[h] = (path, os.stat(path).st_mtime)
    return files


def bad_heights(
    files: dict, lo: int, hi: int, chain_id: str, seed: int, historical, samples: int = 8
) -> set[int]:
    """Heights in [lo, hi] that are missing, plus files outside it, plus
    sampled payloads whose content disagrees with ``expected_block``.
    ``historical(h)`` gives the expected ``historical`` flag."""
    bad = {h for h in range(lo, hi + 1) if h not in files}
    bad |= {h for h in files if not lo <= h <= hi}
    rng = random.Random(seed * 7919 + lo)
    for h in rng.sample(range(lo, hi + 1), min(samples, hi - lo + 1)):
        if h not in files:
            continue
        with open(files[h][0]) as fh:
            block = json.load(fh)
        n_events, n_errors = expected_block(h)
        if (
            block.get("height") != h
            or block.get("chain_id") != chain_id
            or block.get("historical") != historical(h)
            or len(block.get("tx_events") or []) != n_events
            or len(block.get("tx_errors") or []) != n_errors
        ):
            bad.add(h)
    return bad


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def _source_options(ctx: Context) -> dict:
    return {"backend": "http", "rpc_url": ctx.gen.url}


def warm_up_blocks(ctx: Context) -> None:
    """One tiny backfill job: starts the Python workers the block path uses."""
    from event_stream_spark.sinks.splay import write_splayed_json_batch
    from event_stream_spark.streaming import historical_stream

    lo = backfill_base(ctx.seed) - 100
    df = historical_stream(ctx.spark, lo, lo + 39, streaming=False, **_source_options(ctx))
    write_splayed_json_batch(df, ctx.fresh_dir("warmup"))


def backfill(ctx: Context, seconds: float, sizes: Sizes) -> Result:
    from event_stream_spark.sinks.splay import write_splayed_json_batch
    from event_stream_spark.streaming import historical_stream

    n, base = sizes.backfill_job, backfill_base(ctx.seed)
    jobs, busy, last = [], 0.0, 0.0
    gen0 = ctx.gen.call("stats")
    # the chain keeps growing during a backfill; the batch reads ignore the
    # head, but the schedule shows whether the generator keeps up under load
    ctx.gen.call("schedule", h0=gen0["head"], rate=sizes.live_rate)
    start = time.perf_counter()
    # whole jobs only: another one starts only if it fits in the window
    while not jobs or time.perf_counter() - start + last <= seconds:
        lo = base + len(jobs) * n
        out = ctx.fresh_dir(f"backfill-{lo}")
        group = f"backfill-{len(jobs)}"
        ctx.sc.setJobGroup(group, group)
        submit, t0 = time.time(), time.perf_counter()
        with ctx.tracer.span("backfill.job", trace="backfill", lo=lo):
            df = historical_stream(ctx.spark, lo, lo + n - 1, streaming=False, **_source_options(ctx))
            write_splayed_json_batch(df, out)
        last = time.perf_counter() - t0
        busy += last
        jobs.append((lo, out, submit, group))
    ctx.gen.call("hold")
    gen1 = ctx.gen.call("stats")

    res = Result()
    latencies, tasks = [], []
    for lo, out, submit, group in jobs:
        files = splay_files(out)
        res.attempted += n
        res.failed += len(
            bad_heights(files, lo, lo + n - 1, ctx.gen.chain_id, ctx.seed, lambda h: True)
        )
        latencies += [mtime - submit for _path, mtime in files.values()]
        tasks.append(ctx.tasks_in_group(group)[1])
    blocks_per_s = res.attempted / busy
    res.e2e = {
        "throughput_per_s": blocks_per_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": tail(latencies),
    }
    res.named = {
        "backfill_blocks_per_s": (blocks_per_s, "1/s"),
        "backfill_block_latency_p50_s": (res.e2e["latency_p50_s"], "s"),
        f"backfill_block_latency_{tail_label(len(latencies))}_s": (res.e2e["latency_tail_s"], "s"),
        "backfill_jobs": (len(jobs), "count"),
    }
    res.layer = {
        "sources.tasks": statistics.median(tasks),
        **_gen_layer(gen0, gen1),
    }
    return res


def _gen_layer(before: dict, after: dict) -> dict:
    return {
        "sources.gen_requests": after["requests"] - before["requests"],
        "sources.gen_cpu_s": after["cpu_s"] - before["cpu_s"],
        "sources.gen_late_ms": after["late_ms"],
    }


def live_tail(
    ctx: Context, seconds: float, rate: float, h0: int, warm: float, check: bool = True
) -> Result:
    from event_stream_spark.sinks.splay import splayed_json_sink
    from event_stream_spark.streaming import combined_block_stream
    from event_stream_spark.streaming.checkpoint import last_checkpoint

    ctx.gen.call("hold", head=h0)
    gen0 = ctx.gen.call("stats")
    out, ckpt = ctx.fresh_dir("live-out"), ctx.fresh_dir("live-ckpt")
    ctx.sc.setJobGroup("live_tail", "live_tail")
    progress: dict[int, dict] = {}

    def emitted() -> int:
        for p in query.recentProgress:
            progress[p["batchId"]] = p
        return sum(p["numInputRows"] for p in progress.values())

    t_start = time.perf_counter()
    with ctx.tracer.span("live.query", trace="live_tail"):
        df = combined_block_stream(ctx.spark, 1, h0, **_source_options(ctx))
        query = splayed_json_sink(df, out, ckpt).start()
        try:
            with ctx.tracer.span("live.catchup", trace="live_tail"):
                _wait(lambda: emitted() >= h0, 120, query, "the backfill leg")
            catchup_s = time.perf_counter() - t_start
            t0 = ctx.gen.call("schedule", h0=h0, rate=rate)["t0"]
            with ctx.tracer.span("live.warm", trace="live_tail"):
                time.sleep(max(0.0, t0 + warm - time.time()))
                emitted()
                warm_batch = max(progress)
            with ctx.tracer.span("live.window", trace="live_tail"):
                time.sleep(max(0.0, t0 + warm + seconds - time.time()))
                h_end = ctx.gen.call("hold")["head"]
                _wait(lambda: emitted() >= h_end, 60, query, "the live tail to drain")
        finally:
            query.stop()
    gen1 = ctx.gen.call("stats")

    files = splay_files(out)
    live = [h for h in range(h0 + 1 + int(warm * rate), h_end + 1) if h in files]
    latencies = [files[h][1] - (t0 + (h - h0) / rate) for h in live]
    # delivered rate: the inverse slope of emission time over height.  It
    # equals the offered rate while latency stays flat and falls below it
    # as soon as a backlog builds up
    blocks_per_s = 1.0 / statistics.linear_regression(live, [files[h][1] for h in live]).slope
    res = Result(attempted=h_end)
    if check:
        bad = bad_heights(files, 1, h_end, ctx.gen.chain_id, ctx.seed, lambda h: h <= h0)
        # no source row read twice, and both legs' committed offsets end
        # where the emitted heights do: the historical/live handoff property
        read = sum(p["numInputRows"] for p in progress.values())
        committed = {last_checkpoint(ckpt, i) for i in (0, 1)}
        handoff_ok = read == h_end and committed == {h0, h_end}
        res.failed = min(h_end, len(bad) + (not handoff_ok))
    res.e2e = {
        "throughput_per_s": blocks_per_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": tail(latencies),
    }
    res.named = {
        "live_latency_p50_s": (res.e2e["latency_p50_s"], "s"),
        f"live_latency_{tail_label(len(latencies))}_s": (res.e2e["latency_tail_s"], "s"),
        "live_blocks_per_s": (blocks_per_s, "1/s"),
        "live_offered_rate": (rate, "1/s"),
        "live_samples": (len(latencies), "count"),
    }

    batches = [
        p for b, p in sorted(progress.items()) if b > warm_batch and p["numInputRows"] > 0
    ]

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in batches)

    state = progress[max(progress)]["stateOperators"][0]
    res.layer = {
        "sources.latest_offset_ms": med("latestOffset"),
        "sinks.add_batch_ms": med("addBatch"),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in batches),
        "streaming.state_rows": state["numRowsTotal"],
        "streaming.state_memory_bytes": state["memoryUsedBytes"],
        "streaming.catchup_s": catchup_s,
        **_gen_layer(gen0, gen1),
    }
    return res


def analytics(ctx: Context, lake: str, check: bool = True) -> Result:
    from event_stream_spark.queries import ORACLE_SQL, QUERIES

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    ctx.sc.setJobGroup("analytics", "analytics")
    start = time.perf_counter()
    with ctx.tracer.span("analytics.pass", trace="analytics"):
        for name, fn in QUERIES.items():
            with ctx.tracer.span(f"queries.{name}", trace="analytics"):
                t0 = time.perf_counter()
                rows[name] = len(fn(ctx.spark, lake).toPandas())
                times[name] = time.perf_counter() - t0
    pass_s = time.perf_counter() - start
    jobs, tasks = ctx.tasks_in_group("analytics")

    res = Result(attempted=len(QUERIES))
    if check:
        from tests.oracle_utils import compare, duck_connection

        con = duck_connection(lake)
        for name, fn in QUERIES.items():
            if name in ORACLE_SQL:
                ok, why = compare(fn(ctx.spark, lake), con, ORACLE_SQL[name])
            else:  # sketch results are approximate: one row per event type
                want = con.sql("SELECT count(DISTINCT event_type) FROM events").fetchone()[0]
                ok, why = rows[name] == want, f"{rows[name]} rows, want {want}"
            if not ok:
                print(f"# check failed: {name}: {why}", file=sys.stderr)
                res.failed += 1
        con.close()
    lat = list(times.values())
    res.e2e = {
        "throughput_per_s": len(QUERIES) / pass_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail(lat),
    }
    res.named = {
        "analytics_pass_s": (pass_s, "s"),
        "analytics_query_p50_s": (res.e2e["latency_p50_s"], "s"),
        f"analytics_query_{tail_label(len(lat))}_s": (res.e2e["latency_tail_s"], "s"),
    }
    res.layer = {f"queries.{name}_s": v for name, v in times.items()}
    res.layer.update({"queries.jobs": jobs, "queries.tasks": tasks})
    return res


# ---------------------------------------------------------------------------
# Traced prefix-pipeline probes: source only -> + operators -> + sink
# ---------------------------------------------------------------------------

def prefix_probes(ctx: Context, n: int) -> dict:
    from event_stream_spark.sinks.splay import write_splayed_json_batch
    from event_stream_spark.sources import blockstream
    from event_stream_spark.streaming import historical_stream

    lo = backfill_base(ctx.seed) - 1000
    hi = lo + n - 1
    opts = _source_options(ctx)
    blockstream.register(ctx.spark)

    @contextmanager
    def timed(name: str, out: dict):
        t0 = time.perf_counter()
        with ctx.tracer.span(name, trace="probe"):
            yield
        out[name] = time.perf_counter() - t0

    t: dict[str, float] = {}
    ctx.sc.setJobGroup("probe-scan", "probe-scan")
    with timed("scan", t):
        ctx.spark.read.format("blockstream").options(
            from_height=str(lo), to_height=str(hi), **opts
        ).load().count()
    ctx.sc.setJobGroup("probe", "probe")
    # the noop sink evaluates every column, so no projection is pruned away
    for meta in (False, True):
        with timed(f"enrich_meta_{meta}", t):
            historical_stream(
                ctx.spark, lo, hi, streaming=False, decode_tx_meta=meta, **opts
            ).write.format("noop").mode("overwrite").save()
    frame = historical_stream(ctx.spark, lo, hi, streaming=False, **opts).cache()
    frame.count()
    with timed("splay", t):
        write_splayed_json_batch(frame, ctx.fresh_dir("probe-splay"))
    frame.unpersist()
    return {
        "sources.scan_s": t["scan"],
        "sources.tasks": ctx.tasks_in_group("probe-scan")[1],
        "operators.enrich_s": t["enrich_meta_False"] - t["scan"],
        "operators.tx_meta_s": t["enrich_meta_True"] - t["enrich_meta_False"],
        "sinks.splay_write_s": t["splay"],
    }
