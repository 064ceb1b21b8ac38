"""blink_spark — a PySpark-native entity-resolution / record-linkage engine.

Brand-new implementation of the query and data-processing capabilities of
facebookresearch/BLINK (reference read-only at /root/reference/), recast as
Spark-first blocking → pairwise scoring → transitive clustering over tables of
interleaved text+media documents.

Layout
------
- ``session``    SparkSession factory tuned for the pipeline
- ``synth``      deterministic synthetic fixture generator (seed=42)
- ``functions``  scalar/vectorized text, hashing, similarity functions
- ``operators``  relational operators: extract, blocking, pairs, scoring,
                 clustering, top-k, dedup, ANN, skew handling, eval
- ``sources``    scans for jsonl / conll / wiki-extractor shaped inputs
- ``pipeline``   end-to-end staged pipeline with checkpointed stage tables
"""

import sys

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task. Before CPython 3.13, ``zipimporter.invalidate_caches``
    re-parses the whole central directory of its archive each time; with
    pyspark.zip, py4j and the spark-core jar on the worker's ``sys.path``
    that is ~26.7k entries, 0.14-0.28 s of one core per task. This version
    re-reads only when no directory is cached for the archive or its
    ``(st_ino, st_mtime_ns, st_size)`` differs from the stamp taken at the
    last read, so a rewritten archive is still picked up. Importing the
    package installs it; every blink_spark UDF imports the package in the
    worker, so each later task of a reused worker skips the re-read.
    """
    import os
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return eager(self)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or stamps.get(self.archive) != stamp:
            # stamp before reading: a write racing the read re-reads next time
            stamps[self.archive] = stamp
            return eager(self)
        self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _lazy_zip_invalidation()
