"""Stat-checked ``zipimporter.invalidate_caches`` for Python 3.10–3.11.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``, so that files shipped with
``addPyFile`` become importable). On Python 3.10 and 3.11 that makes
every zipimporter on ``sys.path`` re-read the whole central directory of
its archive. With ``SPARK_HOME`` set that is 16 importers (pyspark.zip's
package dirs, the py4j zip, the spark-core jar) and 0.2–0.45 s of CPU per
task on a 4-core x86 host, before the task does any work. CPython 3.12
made the re-read lazy (gh-103200).

``install()`` (run when ``binlog_spark`` is imported, so in every worker
that unpickles one of its kernels) records the ``(st_mtime_ns, st_size)``
of each archive just before ``zipimport`` reads it, and makes
``invalidate_caches`` re-read an archive only when that stamp has changed
or the stat fails. An importer whose archive is unchanged takes the
directory of the last read, which is what a re-read would return. An
archive first read before ``install()`` is re-read once. Outside Python
3.10–3.11 ``install()`` does nothing.
"""

import os
import sys
import zipimport

# private zipimport names, read only where install() patches them
_READ = getattr(zipimport, "_read_directory", None)
_INVALIDATE = getattr(zipimport.zipimporter, "invalidate_caches", None)
_LAST: dict = {}  # archive -> (stamp before the last read, its directory)


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    stamp = _stamp(archive)
    files = _READ(archive)
    _LAST[archive] = (stamp, files)
    return files


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    last = _LAST.get(self.archive)
    if stamp is None or last is None or last[0] != stamp:
        _INVALIDATE(self)  # re-reads through zipimport._read_directory
        return
    self._files = zipimport._zip_directory_cache[self.archive] = last[1]


def installed() -> bool:
    return (getattr(zipimport.zipimporter, "invalidate_caches", None)
            is _invalidate_caches)


def install() -> None:
    if (3, 10) <= sys.version_info[:2] <= (3, 11):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
