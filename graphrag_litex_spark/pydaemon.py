"""Spark's Python worker daemon, run from a ``sys.path`` with no Spark archives.

The JVM puts ``pyspark.zip``, the py4j source zip and the spark-core jar
first on every Python worker's ``PYTHONPATH``. Every task calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``), and
under Python 3.11 that makes each cached ``zipimporter`` (one per archive
root, plus one per package directory imported from it) re-read its
archive's whole directory: 250-360 ms per task on a 4-core host. When the same
pyspark is installed as a plain directory, this module drops the archives
from ``sys.path`` and their importers from ``sys.path_importer_cache``
before anything imports pyspark, then runs ``pyspark.daemon.manager()``;
the forked workers inherit the clean path, where ``invalidate_caches()``
only resets ``FileFinder``s. In every other case the path stays as the JVM
built it. ``session.get_spark`` selects this module through
``spark.python.daemon.module``.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archive entries, if ``pyspark`` and ``py4j``
    resolve from plain directories on what remains and that pyspark's
    ``version.py`` is byte-identical to the archived one; otherwise
    ``path`` itself."""
    archives = [
        p for p in path
        if os.path.isfile(p) and any(fnmatch.fnmatch(os.path.basename(p), a) for a in _ARCHIVES)
    ]
    rest = [p for p in path if p not in archives]
    zipped = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    specs = [PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j")]
    if not zipped or not all(s and s.origin and os.path.isfile(s.origin) for s in specs):
        return path
    try:
        archived = zipimport.zipimporter(zipped[0]).get_data("pyspark/version.py")
        with open(os.path.join(os.path.dirname(specs[0].origin), "version.py"), "rb") as f:
            plain = f.read()
    except (OSError, ImportError):
        return path
    return rest if archived == plain else path


def main() -> None:
    clean = zip_free_path(sys.path)
    for entry in set(sys.path) - set(clean):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = clean
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
