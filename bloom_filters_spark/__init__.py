"""bloom_filters_spark — a PySpark-native distributed sketch /
approximate-aggregation library.

From-scratch reimplementation of the capabilities of the reference
C++ project Y8ungS8ul/Bloom-Filters (Bloom / counting / invertible /
dynamic Bloom filters, Cuckoo filter, HyperLogLog) re-expressed as
mergeable aggregators over Spark DataFrames, extended with count-min,
KLL, and t-digest, plus the web-scale pipeline operators a training-data
workload needs (dedup, similarity search, text analysis, exact heavy
hitters, IBF table reconciliation, sketch-indexed scan pruning).

Layers:
  kernels/    pure-numpy mergeable sketches (no Spark)
  operators/  Spark aggregation (mapInPandas partials → tree merge),
              probes, dedup, similarity, text stats, collisions
  functions/  sizing math, text normalization
  sources/    deterministic synthetic fixtures (pages, words, users)
  plans/      north-star end-to-end queries
  streaming/  Structured Streaming sketch accumulation
  checkpoint  partial-sketch checkpoint/resume with lineage
"""

__version__ = "0.1.0"


def _tune_malloc() -> None:
    """Keep large numpy buffers on the heap instead of per-allocation
    mmaps.

    On virtualized hosts with slow page faults (measured ~400us/page on
    this sandbox's Firecracker VM), glibc's default behavior — mmap any
    allocation >128KB and unmap it on free — makes every fresh numpy
    ufunc output pay a full page-fault storm (~8s per 80MB array,
    repeatedly). Raising M_MMAP_THRESHOLD/M_TRIM_THRESHOLD makes large
    buffers come from the brk heap, which stays mapped after free, so
    the fault cost is paid once per process instead of once per batch
    (measured 50-100x on the Bloom/HLL batch kernels).

    Runs in every process that imports this package — the Spark driver
    AND each python UDF worker. mallopt affects only the current
    process; failures are ignored (non-glibc platforms).
    """
    import ctypes
    import os
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        one_gb = 1 << 30
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(one_gb))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(one_gb))  # M_TRIM_THRESHOLD
    except Exception:
        pass
    # child processes (JVM -> pyspark daemons) inherit these instead
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def _stamp_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` skip re-reading zip
    archives that have not changed (Python < 3.12).

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``setup_spark_files``), and it imports pyspark
    from ``pyspark.zip``. In CPython 3.10/3.11,
    ``zipimporter.invalidate_caches`` re-reads the archive's whole
    central directory on the spot, once per cached importer (16 for
    pyspark.zip + py4j). Measured on a 4-core VM (Python 3.11.7,
    pyspark 4.1.2): under cProfile, 1.135 s of ``worker.main``'s
    1.141 s per task; a 4-task identity ``mapInPandas`` job took a
    median 337 ms without this patch and 152 ms with it (a JVM-only
    job: 46 ms). CPython 3.12 made the re-read lazy (gh-103200), so
    3.12+ is left alone.

    Every directory read records the archive's ``(st_mtime_ns,
    st_size, st_ino)``, taken just before it, with the directory it
    read; ``invalidate_caches`` keeps the shared
    ``zipimport._zip_directory_cache`` entry when that entry is the
    stamped directory and the stamp is unchanged, and falls back to
    the stock re-read when the stamp changed or ``stat`` fails.
    Archives read before this runs have no stamp, so their next
    invalidation still re-reads once. Like ``_tune_malloc`` this runs
    in the driver and in every Python worker that imports the package,
    and reused workers keep it; installing it twice has no effect.
    """
    import os
    import sys
    import zipimport
    stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if (sys.version_info >= (3, 12) or stock is None
            or stock.__module__ == __name__):
        return
    stock_read = zipimport._read_directory
    stamps = {}

    def stamp_of(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def _read_directory(archive):
        stamp = stamp_of(archive)
        files = stock_read(archive)
        stamps[archive] = stamp, files
        return files

    def invalidate_caches(self):
        stamp, read = stamps.get(self.archive, (None, None))
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and read is files
                and stamp == stamp_of(self.archive)):
            self._files = files
        else:
            stock(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_tune_malloc()
_stamp_zip_directories()
