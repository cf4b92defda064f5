"""pyspark's Python worker daemon, minus the per-task zip directory re-read.

Before every task a pyspark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 every
cached ``zipimporter`` then re-reads its archive's whole central
directory (the cost is recorded in ``session``'s docstring). ``main``
makes an importer re-read its archive only when the archive's (mtime,
size, inode) changed since that importer last read it, then runs
``pyspark.daemon.manager()``; forked workers inherit the change.
``session.get_spark`` selects this module for local masters only.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory unless it is unchanged since the last read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # Stamp the daemon's importers once, so forked workers skip even
    # their first re-read.
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # Run from the importable module, not ``__main__``, so the installed
    # guard names its real module.
    from security_master_spark.pydaemon import main as _main

    _main()
