"""The worker daemon's stamped zipimporter refresh.

``stamped_invalidate`` must skip an archive whose ``(st_mtime_ns, st_size)``
is unchanged and re-read one that was rewritten; and the session's Python
workers must run under it, so the ``importlib.invalidate_caches()`` that
PySpark issues at every task start re-reads no unchanged archive.
"""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crocodile_spark.worker_daemon import stamped_invalidate


def _write_zip(path: str, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


def _import_from(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stamped_invalidate_rereads_only_a_changed_archive(tmp_path):
    path = str(tmp_path / "shipped.zip")
    _write_zip(path, {"m.py": "VALUE = 1\n"})
    try:
        zi = zipimport.zipimporter(path)
        stamped_invalidate(zi)  # first call reads and stamps
        files = zi._files
        for _ in range(3):
            stamped_invalidate(zi)
            assert zi._files is files  # unchanged archive: not re-read
        assert _import_from(zi, "m").VALUE == 1

        _write_zip(path, {"m.py": "VALUE = 2  # rewritten\n", "m2.py": "X = 3\n"})
        st = os.stat(path)
        # a distinct mtime even on a coarse-clock filesystem
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        stamped_invalidate(zi)
        assert zi._files is not files
        assert _import_from(zi, "m").VALUE == 2
        assert _import_from(zi, "m2").X == 3
        files = zi._files
        stamped_invalidate(zi)
        assert zi._files is files
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_session_workers_skip_unchanged_archives(spark):
    """From inside a pandas-UDF task: the workers hold zipimporters
    (pyspark.zip, py4j, the Spark jar), and ``invalidate_caches()`` re-reads
    none of them. The first call stamps any importer created since the
    task started; the counted second call must read nothing."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(x: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport as zi

        n_zip = sum(
            isinstance(f, zi.zipimporter) for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        reads = [0]
        plain = zi._read_directory

        def counted(archive):
            reads[0] += 1
            return plain(archive)

        zi._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = plain
        return pd.Series([[n_zip, reads[0]]] * len(x))

    rows = spark.range(0, 4, 1, 2).select(probe("id").alias("r")).collect()
    for r in rows:
        n_zip, reads = r.r
        assert n_zip > 0
        assert reads == 0
