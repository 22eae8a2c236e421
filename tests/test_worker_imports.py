"""The package's lazy ``zipimporter.invalidate_caches``: a Python worker
re-reads a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and before CPython 3.13 every ``zipimporter`` re-reads its whole archive
directory there (``pyspark.zip``, 14-16 importers per worker)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the stdlib zipimporter is lazy from 3.13"
)

_PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    import event_stream_spark  # noqa: F401  (installs the lazy invalidation)

    archive = sys.argv[1]
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "A = 1\\n")
    sys.path.insert(0, archive)
    import zmod_a

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    for _ in range(10):
        importlib.invalidate_caches()
    print(len(reads))
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "A = 1\\n")
        z.writestr("zmod_b.py", "B = 2\\n")
    importlib.invalidate_caches()
    import zmod_b
    print(zmod_a.A + zmod_b.B, len(reads))
    """
)


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path):
    """Ten invalidations of an unchanged zip read its directory 0 times; a
    rewritten zip is read again and its new module imports."""
    import event_stream_spark

    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip")],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(event_stream_spark.__path__[0]),
    ).stdout.split("\n")
    assert out[0] == "0"
    assert out[1] == "3 1"


def test_reused_worker_skips_zip_directory_reads(spark):
    """Job 1 counts ``zipimport._read_directory`` calls in each worker;
    jobs 2 and 3 report each task's reads since that worker's previous
    task.  A reused worker reads no zip directory (the stdlib's eager
    invalidation reads one per importer, 14 or more per task)."""
    n = spark.sparkContext.defaultParallelism
    schema = "pid long, reads long"

    def install(batches):
        import zipimport

        import pyarrow as pa

        import event_stream_spark  # noqa: F401  (installs the lazy invalidation)

        for _ in batches:
            pass
        if not hasattr(zipimport, "read_counts"):
            counts = zipimport.read_counts = {"reads": 0, "seen": 0}
            read_directory = zipimport._read_directory

            def counting(archive):
                counts["reads"] += 1
                return read_directory(archive)

            zipimport._read_directory = counting
        zipimport.read_counts["seen"] = zipimport.read_counts["reads"]
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [0]})

    def reads_since_previous_task(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        counts = getattr(zipimport, "read_counts", None)
        reads = -1  # a worker that ran no job-1 task
        if counts is not None:
            reads = counts["reads"] - counts["seen"]
            counts["seen"] = counts["reads"]
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [reads]})

    def run(fn):
        rows = spark.range(0, n, numPartitions=n).mapInArrow(fn, schema).collect()
        return [(r["pid"], r["reads"]) for r in rows]

    counted = {pid for pid, _ in run(install)}
    later = run(reads_since_previous_task) + run(reads_since_previous_task)
    reused = [reads for pid, reads in later if pid in counted]
    assert reused, "no worker ran a task in more than one job"
    assert reused == [0] * len(reused)
