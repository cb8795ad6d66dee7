"""Python worker daemon for this engine's sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts the executor's Python daemon as ``python -m
<package>.worker_daemon <worker module>``; every Python task is then
forked from it, exactly as from ``pyspark.daemon``.

Why it exists: Spark puts its zipped ``pyspark``, the ``py4j`` zip and
the spark-core jar at the front of the worker's ``sys.path``.
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, and each cached
``zipimporter`` then re-parses its whole archive directory in pure
Python (the pyspark zip holds ~1,300 entries and no ``.pyc``; the jar
~5,400 and no Python): 0.14-0.25 s per task on a 4-vCPU host, more
than most kernels it runs. This module drops those entries from the
path and from ``sys.path_importer_cache`` before anything imports
pyspark, so the forked tasks import the installed package (which has
its ``__pycache__``) and ``invalidate_caches()`` touches no archive.

It prunes only when the pyspark importable without Spark's entries is
the same build as the zipped one (byte-equal ``pyspark/version.py``)
and py4j is importable too; otherwise the path stays as Spark set it
and the daemon behaves as ``pyspark.daemon``. The module imports
nothing from pyspark or from this package before pruning (the package
``__init__`` exports lazily for that reason).
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core") and name.endswith(".jar"))
    )


def _installed_pyspark_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` bytes of the pyspark package a plain
    directory on ``path`` provides, or None."""
    spec = importlib.machinery.PathFinder.find_spec("pyspark", path)
    for loc in (spec and spec.submodule_search_locations) or ():
        try:
            with open(os.path.join(loc, "version.py"), "rb") as f:
                return f.read()
        except OSError:
            pass
    return None


def prune_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's zipped pyspark, py4j and jar entries if
    the pyspark importable from the rest is the same build as the
    zipped one and py4j is importable from the rest; else ``path``
    itself, unchanged."""
    archives = [p for p in path if _is_spark_archive(p)]
    zipped = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zipped:
        return path
    try:
        with zipfile.ZipFile(zipped[0]) as z:
            zipped_version = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    rest = [p for p in path if p not in archives]
    if _installed_pyspark_version(rest) != zipped_version:
        return path
    if importlib.machinery.PathFinder.find_spec("py4j", rest) is None:
        return path
    return rest


def main() -> None:
    pruned = prune_spark_archives(sys.path)
    if pruned is not sys.path:
        for entry in set(sys.path) - set(pruned):
            sys.path_importer_cache.pop(entry, None)
        sys.path[:] = pruned
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
