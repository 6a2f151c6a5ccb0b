"""PySpark worker daemon that keeps each worker's zip imports warm.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
so that a file shipped with ``addPyFile`` becomes importable. On CPython
3.11 and 3.12 each ``zipimporter`` then re-reads its archive's whole
directory: pyspark.zip, the spark-core jar and py4j, about 16 readers
and 200+ ms of CPU per task. Run as ``python -m etl_spark_eks_spark.daemon``
(Spark's ``spark.python.daemon.module``), this module guards that
re-read and then runs ``pyspark.daemon.manager()``; every worker the
daemon forks inherits the guard.

The guard skips the re-read while the archive's (size, mtime_ns, inode)
are those it had when that importer last read it. A changed archive, or
one that cannot be stat'ed, goes through the original method.

``session.get_spark`` also turns on
``spark.python.unix.domain.socket.enabled`` for the local masters that
run this daemon. ``pyspark.daemon.manager()`` then listens on a Unix
domain socket in ``spark.python.unix.domain.socket.dir`` (the workers
see ``PYTHON_UNIX_DOMAIN_ENABLED=true``) instead of loopback TCP: over
TCP each task waited ~40 ms on the JVM's side of the socket before its
first Arrow batch arrived. This module needs no change for it. A task
whose output the JVM stops reading early (``first()``, ``limit``) now
ends with a ``BrokenPipeError`` traceback from the daemon on stderr,
because the worker's last flush fails; the task's result is unaffected.
"""

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_read_stat", None)
        return _original(self)
    key = (st.st_size, st.st_mtime_ns, st.st_ino)
    if self.__dict__.get("_read_stat") != key:
        _original(self)
        self._read_stat = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
