"""Python worker daemon for croco-spark sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files``), so that code shipped with
``addPyFile`` / ``--py-files`` becomes importable. On CPython 3.11 that call
makes every ``zipimporter`` on the worker path re-read its archive's
central directory (16 in a local worker, over ``pyspark.zip``, py4j and
the Spark jar): about 200 ms per task before the UDF runs, paid by every
Arrow kernel.

This module runs ``pyspark.daemon`` with ``zipimporter.invalidate_caches``
replaced by :func:`stamped_invalidate`, which re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since that importer last read it.
Every worker forked from the daemon inherits the replacement, including
workers that unpickle closures by value. Directory finders are still
invalidated as before, so newly shipped files import as they always did.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_plain_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stamped_invalidate(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(importer.archive)
    if stamp is not None and stamp == getattr(importer, "_croco_stamp", None):
        return
    _plain_invalidate(importer)
    importer._croco_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = stamped_invalidate
    # stamp the importers the daemon holds, once, before any worker forks
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
