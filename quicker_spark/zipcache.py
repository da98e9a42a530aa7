"""PySpark calls ``importlib.invalidate_caches()`` before every Python
task; before CPython 3.12 each ``zipimporter`` then re-reads its whole
archive directory (pyspark.zip, py4j, the Spark jar: 0.1-0.2 s a task).
Here an archive is re-read only when its (inode, mtime, size) stamp
changed since its last read, whose directory its importers share."""
import os
import sys
import zipimport

_reads = {}   # archive -> (stamp taken before its last read, directory)


def _stamp(archive):
    try:
        st = os.stat(archive)
        return st.st_ino, st.st_mtime_ns, st.st_size
    except OSError:
        return None


def _install():
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp, seen = _stamp(self.archive), _reads.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        else:
            invalidate(self)
            _reads[self.archive] = (stamp, self._files)

    zipimport._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers that predate this module hold reads of unknown age
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


if sys.version_info < (3, 12) and not hasattr(zipimport, "_stamped"):
    _install()
