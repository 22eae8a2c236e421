"""Task-retry chaos proof for the exactly-once sinks.

Query-RESTART idempotence is covered in tests/test_streaming.py; this
script proves TASK-level retry safety: under ``local[8, 3]`` (three
task attempts) a fault injected into one executor task of each sink —
AFTER it has published partial output — must leave the final output
with no duplicate and no torn file, byte-identical to an unchaosed run.

Runs as a standalone process because the shared pytest session is
``local[32]`` (maxFailures=1, task retries disabled); pytest drives it
via subprocess (tests/test_streaming.py::test_task_retry_chaos_sinks).

Covered sinks:
- splay JSON file sink  (skip-if-exists + write-then-rename per file)
- token-shard .npy export (deterministic stratum bytes + atomic rename)
- snaplog.commit          (Spark parquet task-commit protocol upstream
  of the manifest claim; a once-failing mapInPandas stage rides the
  same tasks as the file write)
- vacuum racing branch merges (the hard-linked merge files' TTL guard:
  an aggressive vacuum loop runs through eight diverge→merge→drop
  cycles with the relink→commit window widened and one divergent
  commit hit by a task retry — no merge may lose a referenced file)

Prints one JSON line and exits 0 on success.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8, 3]")  # 3 task attempts
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("chaos-sinks")
        .getOrCreate()
    )
    work = tempfile.mkdtemp(prefix="chaos_sinks_")
    results: dict[str, object] = {}

    def arm(name: str) -> str:
        flag = os.path.join(work, f"flag_{name}")
        open(flag, "w").close()
        return flag

    def fired(flag: str) -> None:
        assert os.path.exists(flag + ".claimed"), (
            f"chaos never fired for {flag} — the proof proved nothing"
        )

    # ---- 1. splay JSON sink --------------------------------------------
    from event_stream_spark.sinks.splay import write_splayed_json_batch

    blocks = spark.range(0, 40).selectExpr(
        "id AS height", "concat('chain-', id) AS chain_id"
    ).repartition(8)
    out = os.path.join(work, "splay")
    flag = arm("splay")
    write_splayed_json_batch(blocks, out, chaos_flag=flag)
    fired(flag)
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(out)
        for f in fs
    )
    tears = [f for f in files if not f.endswith(".json")]
    assert not tears, f"torn/leftover files: {tears}"
    assert len(files) == 40, f"expected 40 files, got {len(files)}"
    # byte-compare against an unchaosed run
    out2 = os.path.join(work, "splay_ref")
    write_splayed_json_batch(blocks, out2)
    for f in files:
        ref = f.replace(out, out2, 1)
        assert open(f, "rb").read() == open(ref, "rb").read(), f
    results["splay_files"] = len(files)

    # ---- 2. token-shard export -----------------------------------------
    import numpy as np

    from event_stream_spark.datapipe.export import export_token_shards

    shards = os.path.join(work, "shards")
    flag = arm("shards")
    export_token_shards(spark, SF, shards, chaos_flag=flag)
    fired(flag)
    names = sorted(os.listdir(shards))
    tears = [n for n in names if not n.endswith(".npy")]
    assert not tears, f"torn/leftover shard files: {tears}"
    ref_dir = os.path.join(work, "shards_ref")
    export_token_shards(spark, SF, ref_dir)
    assert names == sorted(os.listdir(ref_dir))
    for n in names:
        a = np.load(os.path.join(shards, n))
        b = np.load(os.path.join(ref_dir, n))
        assert np.array_equal(a, b), f"shard {n} diverged after retry"
    results["shard_files"] = len(names)

    # ---- 3. snaplog.commit with a once-failing write-stage task ---------
    from event_stream_spark.sources.snaplog import (
        read_snapshot,
        snap_count,
        snapshots,
    )
    from event_stream_spark.sources.snaplog import commit as snap_commit

    flag = arm("snap")

    def fail_once(batches):
        from event_stream_spark.chaos import claim_once

        out_rows = list(batches)  # materialize, then maybe die
        claim_once(flag)
        yield from out_rows

    base = spark.range(0, 1000).selectExpr("id", "id * 3 AS v").repartition(8)
    table = os.path.join(work, "tbl")
    snap_commit(
        base.mapInPandas(fail_once, "id long, v long"),
        table,
        txn=("chaos", 0),
    )
    fired(flag)
    assert snapshots(table) == [0]
    assert snap_count(table) == 1000
    got = sorted(r.id for r in read_snapshot(spark, table).collect())
    assert got == list(range(1000)), "duplicate or missing rows after retry"
    results["snap_rows"] = 1000

    # ---- 4. vacuum racing branch merges (and branch/clone divergence) ----
    # r9's most serious advisory was the vacuum-TTL hole on hard-linked
    # merge files: a merge links branch files into main's merge dir, and
    # until the metadata commit publishes they are UNREFERENCED by any
    # main manifest — only the fresh-mtime stamp (_link_fresh's os.utime)
    # keeps a concurrent vacuum(ttl)'s TTL guard protecting them.  This
    # proof runs an aggressive vacuum loop (keep_last=1, ttl=2s) through
    # eight create-branch → diverge → merge → drop cycles, with the
    # relink→commit window artificially widened (0.25 s per linked file)
    # and one divergent branch commit additionally hit by a task-retry
    # fault.  Every merge must land with all referenced files present.
    import threading
    import time as _time

    import event_stream_spark.sources.snapbranch as _sb
    from event_stream_spark.sources.snaplog import _read_manifest, vacuum
    from event_stream_spark.sources.snapbranch import (
        create_branch,
        drop_branch,
        merge_branch,
    )

    table5 = os.path.join(work, "tbl5")
    snap_commit(
        spark.range(0, 400).selectExpr("id AS k", "id AS v").repartition(4),
        table5,
        stats_cols=["k"],
    )
    stop = threading.Event()
    vac_n = [0]
    vac_err: list = []

    def vac_loop():
        import traceback

        while not stop.is_set():
            try:
                vacuum(table5, keep_last=1, tmp_ttl_s=2.0)
                vac_n[0] += 1
            except Exception:  # noqa: BLE001 — any failure fails the proof
                vac_err.append(traceback.format_exc())
                break

    vac_t = threading.Thread(target=vac_loop)
    vac_t.start()

    _orig_link = _sb._link_fresh

    def _slow_link(src, dst):
        _orig_link(src, dst)
        _time.sleep(0.25)  # widen the unreferenced-but-linked window

    _sb._link_fresh = _slow_link
    flag5 = arm("vacmerge")

    def fail_once5(batches):
        from event_stream_spark.chaos import claim_once

        out_rows = list(batches)
        claim_once(flag5)
        yield from out_rows

    expect = 400
    try:
        for i in range(8):
            name = f"b{i}"
            bt = create_branch(table5, name)
            div = (
                spark.range(1000 * (i + 1), 1000 * (i + 1) + 50)
                .selectExpr("id AS k", "id AS v")
                .repartition(2)
            )
            if i == 0:  # one divergence also survives a task retry
                div = div.mapInPandas(fail_once5, "k long, v long")
            snap_commit(div, bt, stats_cols=["k"])
            merge_branch(spark, table5, name)
            drop_branch(table5, name)
            expect += 50
            from event_stream_spark.sources.snaplog import snapshots as _snaps

            head_m = _read_manifest(table5, _snaps(table5)[-1])
            missing = [
                e["path"]
                for e in head_m["files"]
                if not os.path.exists(e["path"])
            ]
            assert not missing, (
                f"merge {name} lost files to the racing vacuum: {missing}"
            )
            got = read_snapshot(spark, table5).count()
            assert got == expect, f"after merge {name}: {got} != {expect}"
    finally:
        _sb._link_fresh = _orig_link
        stop.set()
        vac_t.join()
    fired(flag5)
    assert not vac_err, f"vacuum loop died mid-race: {vac_err}"
    assert vac_n[0] > 0, "vacuum never actually ran during the merges"
    results["vacuum_merge_rows"] = expect

    spark.stop()
    print(json.dumps({"ok": True, **results}))


if __name__ == "__main__":
    main()
