"""Spark's Python worker daemon, run from the installed PySpark.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so Spark starts the daemon as ``python -m
sits_classification_spark.worker_daemon`` with its own archives
(``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core
jar) at the front of ``PYTHONPATH``. Every ``mapInArrow`` task of the
engine (each cascade step and most ``Engine`` ops) runs on a worker that
daemon forks, the engine's form of the reference's per-pixel
multiprocessing pool (``force/skel/UDF.prm:183-188``).

Why not Spark's own ``pyspark.daemon``: the archive holds no ``.pyc``
files, so a worker that imports PySpark from it pays twice.

- Source compilation. The daemon compiles PySpark from source in every
  session: ``import pyspark.worker`` took 1.55–1.62 s from the zip and
  0.32 s from the installed package (CPython 3.11, 4-vCPU host).
- Zip re-reads per task. ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` before every task, and on CPython 3.11
  that re-reads the directory of every ``zipimporter`` in
  ``sys.path_importer_cache``: 16 of them in a worker, one per archive and
  one per PySpark subpackage. A cProfile of a warm trivial task put 0.73 s
  of 0.96 s in ``zipimport._read_directory``, and a warm identity
  ``mapInArrow`` over 4,000 rows took 0.57–0.62 s with the re-reads and
  0.26–0.28 s without them.

So before it imports any PySpark, :func:`main` takes Spark's archives
off ``sys.path`` and drops the importers ``python -m`` cached for them
while it looked up this package, then runs ``pyspark.daemon.manager()``.
It does so only when an installed ``pyspark`` of the archive's version
and an installed ``py4j`` can be imported without the archives;
otherwise the path stays as Spark ordered it, archives first
(:func:`worker_path`).
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# what Spark puts ahead of PYTHONPATH on the worker path: its pyspark.zip,
# its py4j zip and the spark-core jar. An archive the user put on
# PYTHONPATH stays.
_SPARK_ARCHIVE = re.compile(r"(pyspark\.zip|py4j-.+-src\.zip|spark-core_.+\.jar)\Z")
_VERSION = re.compile(r"""^__version__\s*(?::\s*\w+\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_archive(entry: str) -> bool:
    return bool(_SPARK_ARCHIVE.match(os.path.basename(entry)))


def _parse_version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def archive_version(path: list[str]) -> str | None:
    """PySpark version in the first ``pyspark.zip`` on `path`, or None."""
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    return _parse_version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def installed_version(path: list[str]) -> str | None:
    """Version of the ``pyspark`` that `path` imports without Spark's
    archives, found without importing it; None when that path has no
    ``pyspark`` or no ``py4j``."""
    path = [p for p in path if not _is_spark_archive(p)]
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.origin or PathFinder.find_spec("py4j", path) is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            return _parse_version(f.read())
    except OSError:
        return None


def worker_path(path: list[str], archived: str | None, installed: str | None) -> list[str]:
    """The worker's ``sys.path``: `path` without Spark's archives when the
    PySpark installed outside them (`installed`, with py4j) has the
    archive's version (`archived`); else `path` as Spark ordered it."""
    if archived is not None and installed == archived:
        return [p for p in path if not _is_spark_archive(p)]
    return list(path)


def main() -> None:
    keep = worker_path(sys.path, archive_version(sys.path), installed_version(sys.path))
    dropped = [p for p in sys.path if p not in keep]
    inside = tuple(p + os.sep for p in dropped)
    sys.path[:] = keep
    for key in [k for k in sys.path_importer_cache if k in dropped or k.startswith(inside)]:
        del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
