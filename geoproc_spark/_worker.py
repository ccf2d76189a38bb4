"""Python workers skip re-reading zip archives that have not changed.

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task (`pyspark.worker_util.setup_spark_files`). On CPython 3.10-3.12 that
calls `zipimport.zipimporter.invalidate_caches`, which re-reads the whole
central directory of its archive, once per importer. A worker holds one
importer per package path it imported from an archive: about 16 over
`pyspark.zip` (1,328 entries), the py4j zip and the spark-core jar (5,359
entries) that Spark puts on the worker's path. So every task re-reads
~27k directory entries before its function runs: ~0.2 CPU-s per task on a
reused worker. CPython 3.13 only drops the cached directory and reads it
again on next use, so `geoproc_spark/__init__.py` installs this on older
versions only, and only inside a worker task.

Why it is safe: a directory is reused only when the archive's
(inode, mtime_ns, size) equal their values at its last read, taken before
that read, and `zipimport._zip_directory_cache` still holds it. A new,
rewritten, replaced or missing archive (an `addPyFile` zip, say) goes to
the original method, which re-reads it or drops it as before. The
directories already cached at install count as read at their archive's
current stat: a new `zipimporter` trusts that cache the same way, and
inside a task `setup_spark_files` has just re-read every archive.
"""

import os
import zipimport


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Wrap `zipimporter.invalidate_caches` (once per process)."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if original.__module__ == __name__:
        return
    # archive -> stat key at its last read; a directory cached now counts
    # as read at the archive's current stat (see the module docstring)
    read_as = {a: _stat_key(a) for a in list(zipimport._zip_directory_cache)}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_as.get(self.archive) == key:
            self._files = files
            return
        original(self)
        read_as[self.archive] = key

    cls.invalidate_caches = invalidate_caches
