"""Python worker daemon for sessions built by ``session.get_spark``.

Spark forks every Python worker from one daemon process and, with worker
reuse on, runs task after task in the same worker. Before each task
PySpark's worker calls ``importlib.invalidate_caches()``. Up to Python
3.12, ``zipimporter.invalidate_caches()`` re-reads the whole archive
directory on the spot, and a worker's path holds one zipimporter for
``pyspark.zip`` plus one per subpackage inside it: every task re-parsed
about 27 000 directory entries, 0.17-0.26 s before the UDF ran. Python
3.13 made the method lazy (drop the cached directory; the next lookup
that needs it reads it again), and importing this module installs that
behaviour on older Pythons.

Run as the daemon, it also moves everything imported so far into the
collector's permanent generation, so the ``gc.collect()`` the daemon
runs after each reused task scans only the task's own objects, and then
hands over to PySpark's stock daemon loop.
"""

from __future__ import annotations

import gc
import sys
import zipimport

if sys.version_info < (3, 13):
    # Python 3.13's zipimporter._get_files / invalidate_caches. The
    # property overrides the instance attribute that __init__ sets, in
    # existing importers too, so every lookup reads the shared cache.

    def _files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    gc.freeze()
    daemon.manager()
