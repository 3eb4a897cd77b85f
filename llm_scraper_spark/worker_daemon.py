"""Warm Python worker daemon (``spark.python.daemon.module``, set by
``session.get_spark``).

Three steps, then the stock ``pyspark.daemon.manager`` takes over and forks
one worker per task as before:

1. On Python < 3.13, ``zipimporter.invalidate_caches`` becomes stat-guarded.
   Every task calls ``importlib.invalidate_caches()``
   (``pyspark.worker_util.setup_spark_files``); on 3.11 that re-reads the
   central directory of every cached zip importer (pyspark.zip and the Spark
   jar on the worker path: ~27k entries, 0.2-0.3 s per task). The guard
   re-reads an archive only when its (mtime, size) changed or was never
   recorded, which approximates 3.13's lazy invalidation.
2. pandas, pyarrow, the pyspark worker and the engine modules whose
   functions run inside UDFs are imported once here, so each forked worker
   starts with them loaded. A failed import is skipped.
3. The stat stamp of every zip importer created by those imports is recorded.

Workers inherit the daemon's modules, so engine code edited while a session
runs reaches them only after the session restarts.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import sys
import traceback
import zipimport

PREIMPORTS = (
    "pandas", "pyarrow", "pyspark.worker", "pyspark.sql.pandas.serializers",
    # pulls in operators.seen/.chunker, functions.urls, sources.synthetic
    "llm_scraper_spark.crawl.waves",
    "llm_scraper_spark.operators.extraction.pipeline",
)

_reload = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _guarded_invalidate(self) -> None:
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reload(self)
        self._stamp = stamp


def install_zip_guard() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def preimport(names) -> None:
    # the daemon's stdout carries the port handshake: keep it clean
    with contextlib.redirect_stdout(sys.stderr):
        for name in names:
            try:
                importlib.import_module(name)
            except Exception:
                # a worker that needs the module imports it itself
                print(f"worker_daemon: skipped {name}", file=sys.stderr)
                traceback.print_exc()


def prime_zip_stamps() -> None:
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            with contextlib.suppress(OSError):
                finder._stamp = _stamp(finder.archive)


def main(preimports=PREIMPORTS) -> None:
    install_zip_guard()
    preimport(preimports)
    prime_zip_stamps()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
