"""Python worker daemon for ``get_spark`` sessions: ``pyspark.daemon`` whose
zip imports re-read an archive only when the archive has changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that makes
each of a worker's zipimporters (about 16, one per package directory
inside ``pyspark.zip`` and the py4j zip) re-read its whole archive
directory: 130-210 ms of CPU per task before the task's own function
runs.  Here an archive's directory is re-read only when its
``(mtime_ns, size, inode)`` differs from the last read, so a reused
worker pays the read once.

``session.get_spark`` selects this module through Spark's static conf
``spark.python.daemon.module``; Spark runs it as
``python -m go_pulsar_elasticsearch_spark.daemon pyspark.worker``, and
``pyspark.daemon`` reads that ``sys.argv[1]`` when it is imported.  The
daemon imports this package before any task runs, so on a cluster the
package must be installed in the executors' Python (``--py-files`` arrives
too late).
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
_last_read: dict = {}  # archive -> (stat key, directory dict) of its last read


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory it last
    read while the archive file is unchanged.  The stat is taken before the
    read, so a change during the read only causes one more read later."""
    try:
        st = os.stat(importer.archive)
    except OSError:
        _last_read.pop(importer.archive, None)
        _stdlib_invalidate_caches(importer)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    last = _last_read.get(importer.archive)
    if last is not None and last[0] == key:
        importer._files = last[1]
        return
    _stdlib_invalidate_caches(importer)
    _last_read[importer.archive] = (key, importer._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
