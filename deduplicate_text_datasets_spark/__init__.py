"""deduplicate_text_datasets_spark — a from-scratch PySpark-native engine with the
query and data-processing capabilities of google-research/deduplicate-text-datasets.

The reference (/root/reference, Rust + Python) is a single-machine suffix-array
dataflow engine for the ExactSubstr half of Lee et al. 2021
(arXiv:2107.06499); its NearDup half exists only as released cluster CSVs.
This package provides both halves natively on Spark DataFrames:

- ``operators.minhash``  — MinHash signatures + LSH banding (NearDup)
- ``operators.simhash``  — SimHash fingerprints + Hamming-ball blocking
- ``operators.suffix``   — ExactSubstr: window-fingerprint self-similar /
  across-similar, per-shard suffix-array kernels for count-occurrences and
  find-training-data (reference: src/main.rs cmd_self_similar,
  cmd_across_similar, cmd_count_occurrences, cmd_find_training_data_2)
- ``operators.intervals`` — collect/interval coalescing (main.rs:1408-1526)
  and scalable interval joins
- ``operators.strike``   — removal application (scripts/finish_dedup_wiki40b.py)
- ``operators.connected_components`` — small-star/large-star clustering
- ``operators.exact`` / ``operators.ngram`` / ``operators.ann`` /
  ``operators.textstats`` — training-data-pipeline extensions (exact dedup,
  n-gram Jaccard, embedding ANN, text analysis)

Everything is DataFrame-first: Catalyst plans the relational stages, and the
only Python on the hot path is vectorized Arrow/pandas kernels.
"""

__version__ = "0.1.0"


def _tune_allocator() -> None:
    """Keep large malloc'd buffers in the process heap instead of the
    mmap/munmap cycle.

    On virtualized hosts (and this sandbox measurably — see BASELINE.md),
    first-touch page faults cost orders of magnitude more than the
    arithmetic on the page, and glibc returns every >=128 KiB buffer to the
    OS on free, so each Arrow batch / numpy temporary refaults its pages.
    Raising M_MMAP_THRESHOLD and disabling trim makes the allocator reuse
    heap memory: measured 250x on repeated 320 MB alloc+touch cycles.
    Trade-off: each Python worker retains its peak allocation (bounded by
    batch sizing). No-op off Linux/glibc.
    """
    import ctypes
    import sys

    if not sys.platform.startswith("linux"):
        return
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(2**31 - 1))  # M_TRIM_THRESHOLD
    except Exception:
        pass


def _gate_zip_refresh() -> None:
    """Make a zipimporter re-read its archive's directory only when the
    archive changed on disk.

    Before every task, ``pyspark.worker.main`` runs ``setup_spark_files``,
    which ends in ``importlib.invalidate_caches()``. On CPython 3.10-3.12
    ``zipimporter.invalidate_caches`` re-parses the archive's whole
    central directory, and a worker holds one zipimporter per imported
    package directory of pyspark.zip (16 importers x 1,328 entries with
    Spark 4.1.2). Measured on 4 cores: that refresh was 0.86 s of a
    profiled 1.0 s ``worker.main``; a trivial task on a reused worker
    burned 0.15-0.30 s of CPU, and an index-lookup count stage's executor
    run time fell from 1,217 ms to 445 ms with this gate.

    The gate stamps each importer with ``os.stat`` of its archive
    (mtime_ns, size, inode) at each refresh and skips the refresh while
    the stamp is unchanged, so an archive that was rewritten or replaced
    is still re-read. The package is imported in a Python worker while
    its first task's command is unpickled, after that task's refresh,
    and importers created before the install carry no stamp: the first
    two tasks of each fresh worker still pay, later ones do not.
    No-op elsewhere: on 3.13+ the method only drops the cache entry.
    """
    import os
    import sys
    import zipimport

    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return
    refresh = zipimport.zipimporter.invalidate_caches
    if getattr(refresh, "_stat_gated", False):  # re-import or reload
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            refresh(self)
            self._archive_stamp = stamp

    invalidate_caches._stat_gated = True
    invalidate_caches.__wrapped__ = refresh
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_tune_allocator()
_gate_zip_refresh()
