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


_tune_allocator()
