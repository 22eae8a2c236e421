"""event_stream_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of FigureTechnologies/event-stream.

The reference (`/root/reference/`) is a Kotlin coroutine dataflow client for the
Provenance (Tendermint) blockchain.  This package re-expresses its entire
operator surface Spark-first:

- fixed ``StructType`` schemas (SURVEY.md §1.3) instead of codegen'd data classes
- batch DataFrame transforms shared verbatim by the streaming path
- Structured Streaming for the live/polling/combined sources
- ``foreachBatch`` sinks for the splayed-file / Kafka / console observers
- plus large-scale training-data-pipeline operators (dedup, similarity search,
  text analysis) that the 100 TB use case needs.

Nothing here is a port: the reference's hand-rolled dataflow structure
(chunking, fan-out, buffering) is replaced by Catalyst planning, partitioning
and AQE.
"""

__version__ = "0.1.0"

import os
import sys
import zipimport


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's stat signature changed since its last read.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task; before CPython 3.13 each ``zipimporter`` (14-16 per worker, all
    over ``pyspark.zip``) then re-reads the whole zip directory, the largest
    fixed cost of a short Python task.  3.13's importer is lazy already."""
    eager = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(eager, "stat_keyed", False):
        return
    read_directory = zipimport._read_directory

    def signature(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    # directories cached before this installs count as current: in a Spark
    # worker the running task's own invalidation read them a moment ago
    read_at = {a: signature(a) for a in zipimport._zip_directory_cache}

    def _read_directory(archive):
        sig = signature(archive)  # before the read: a write mid-read re-reads
        files = read_directory(archive)
        read_at[archive] = sig
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        sig = signature(self.archive)
        if files is None or sig is None or read_at.get(self.archive) != sig:
            return eager(self)
        self._files = files  # the archive's current directory, shared

    invalidate_caches.stat_keyed = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()

from event_stream_spark.session import get_spark  # noqa: E402, F401
