"""Python worker daemon: pyspark's own, minus the per-task zip re-reads.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). On CPython 3.10/3.11 each
``zipimporter`` answers that by re-reading its archive's whole central
directory, and a worker holds many importers into ``pyspark.zip``, so
every task pays for re-reading it before the UDF is entered. Here an
importer re-reads only when its archive's size or mtime changed since
it last read it. Forked workers inherit the patch; the daemon itself is
``pyspark.daemon``'s, unchanged. ``session.get_spark`` selects it with
``spark.python.daemon.module``.

Running the module imports the package, and with it numpy, pandas and
pyarrow, before the daemon forks; the workers inherit them. The one
thread that adds to the forking process is pyarrow's jemalloc
background thread, and jemalloc's own fork handlers take its locks
across ``fork``, so a child never inherits one held.
"""

import importlib
import os
import zipimport


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None  # a missing archive always re-reads
    return st.st_size, st.st_mtime_ns


def _install():
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is None or sig != getattr(self, "_dc_signature", None):
            reread(self)
            self._dc_signature = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # run as ``python -m``: install the patch from the importable module,
    # not from ``__main__``, so it is named and installed once
    import distributed_computing_spark.pyworker  # noqa: F401
    from pyspark import daemon

    importlib.invalidate_caches()  # read each archive here once, not in every fork
    daemon.manager()
elif hasattr(zipimport.zipimporter, "invalidate_caches"):
    _install()
