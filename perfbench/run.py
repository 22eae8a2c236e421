"""Benchmark of the block pipeline and the analytics registry.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Runs one workload in this fresh interpreter and JVM, checks its outputs and
prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics are
the ``end_to_end`` entries of ``BENCHMARK.json``; with ``--trace 1`` they are
its ``per_layer`` entries, measured in a separate traced run.  Lines before
the last one name the workload-specific metrics (``backfill_blocks_per_s``,
``live_latency_p99_s``, ``analytics_pass_s``, ...) with their units.

Everything the run writes stays under ``.bench_work/`` in the checkout.
``--smoke`` shrinks every input for a quick self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "live_tail", "analytics")


def deadline_s(seconds: float) -> int:
    """A run still going after this many seconds fails instead of hanging:
    170 s at a 20-second window; only the measured window grows with
    ``--seconds``, the set-up and the probes do not."""
    return int(150 + seconds)


def spark_cores() -> int:
    """local[k] with k <= nproc - 1, so the load generator keeps a core."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def _isolate(work: str) -> dict:
    """Point every temp, spill and scratch path of this process tree at
    ``work`` and make the package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return dict(os.environ)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until every process in ``pids`` has exited (Spark's Python
    workers outlive the JVM that forked them by a moment); kill stragglers."""
    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    for pid in pids:
        while alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _alarm(_signum, _frame):
    raise TimeoutError("benchmark run exceeded its deadline")


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import event_stream_spark  # noqa: F401  (fails fast outside a checkout)

    from lake import write_lake
    from spans import PeakMemory, Tracer, process_tree
    from workloads import (
        FULL,
        SMOKE,
        Context,
        Generator,
        analytics,
        backfill,
        live_h0,
        live_tail,
        prefix_probes,
        warm_up_blocks,
    )

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sizes = SMOKE if args.smoke else FULL
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _isolate(work)
    tracer = Tracer(bool(args.trace))
    lake = None
    if args.workload == "analytics" or args.trace:
        sf = sizes.lake_sf if args.workload == "analytics" else sizes.probe_lake_sf
        lake = write_lake(os.path.join(work, "lake"), args.seed, sf)

    gen = spark = None
    with PeakMemory() as mem:
        try:
            t_setup = time.perf_counter()
            with tracer.span("setup"):
                if args.workload != "analytics" or args.trace:
                    gen = Generator(args.seed, live_h0(args.seed, sizes), env)
                    mem.exclude.add(gen.proc.pid)
                from event_stream_spark.session import get_spark

                t0 = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark(
                        "perfbench",
                        cpus=spark_cores(),
                        extra_conf={
                            "spark.driver.memory": "1g",
                            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                            "spark.ui.showConsoleProgress": "false",
                            # keep every micro-batch's progress: the live
                            # tail reads them all after its window
                            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
                        },
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                session_start_s = time.perf_counter() - t0
                ctx = Context(spark, gen, work, args.seed, tracer)
                with tracer.span("warmup"):
                    if args.workload == "backfill":
                        warm_up_blocks(ctx)
                    elif args.workload == "analytics":
                        spark.read.parquet(f"{lake}/region.parquet").toPandas()
            setup_s = time.perf_counter() - t_setup

            if args.workload == "backfill":
                res = backfill(ctx, args.seconds, sizes)
            elif args.workload == "live_tail":
                res = live_tail(
                    ctx,
                    args.seconds,
                    sizes.live_rate,
                    live_h0(args.seed, sizes),
                    sizes.live_warm,
                )
            else:
                res = analytics(ctx, lake)

            layer = {}
            if args.trace:
                # layers the workload itself does not exercise get a small
                # probe, so every traced run reports every per-layer metric
                layer.update(prefix_probes(ctx, sizes.probe_heights))
                if args.workload != "live_tail":
                    layer.update(
                        live_tail(
                            ctx,
                            sizes.probe_live_seconds,
                            sizes.live_rate,
                            sizes.probe_live_h0,
                            sizes.live_warm,
                            check=False,
                        ).layer
                    )
                if args.workload != "analytics":
                    layer.update(analytics(ctx, lake, check=False).layer)
                layer.update(res.layer)
                layer["session.start_s"] = session_start_s
                layer["traced.setup_s"] = setup_s
                layer.update({f"traced.{k}": v for k, v in res.e2e.items()})
        finally:
            started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
            if spark is not None:
                _stop_spark(spark)
            if gen is not None:
                gen.close()
            _reap(started)

    if args.trace:
        tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        values, declared = layer, bench["per_layer"]
    else:
        values = {**res.e2e, "setup_s": setup_s, "peak_pss_mb": mem.peak_mb}
        declared = bench["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in declared}
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(values))}, "
            f"extra {sorted(set(values) - set(units))}"
        )
    named = {
        **res.named,
        "setup_s": (setup_s, "s"),
        "peak_pss_mb": (mem.peak_mb, "MB"),
        "error_rate": (res.failed / res.attempted, "ratio"),
    }
    for name, (value, unit) in named.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(deadline_s(args.seconds))
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
