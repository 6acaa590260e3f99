"""Python worker daemon for Spark sessions made by ``get_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 that makes every ``zipimporter`` on ``sys.path``
re-read its archive's whole central directory, pyspark.zip's 1,328
entries included: a fixed cost of ~0.2 s on every Python task. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
changed since it last read it; then PySpark's own daemon runs.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # stamp the daemon's importers once, so forked workers inherit them
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
