"""The Python worker daemon of local sessions (``session.get_spark``).

Spark puts ``<SPARK_HOME>/python/lib/pyspark.zip`` and the spark-core jar on
the worker ``sys.path``. Every Python task calls
``importlib.invalidate_caches()``, and under Python 3.11 each zipimporter
cached over those archives then re-reads its central directory (SCALE.md
"Python worker tax"). Before pyspark is imported, this module puts the same
distribution's unpacked tree where the zip was, drops the jars (they hold no
Python module) and forgets the importers cached for both. Then it runs
``pyspark.daemon``. It imports nothing from the package, whose
``__init__`` imports no pyspark either.
"""

from __future__ import annotations

import os
import sys


def unpacked(entry: str) -> str | None:
    """The directory holding the ``pyspark`` package that the archive
    ``<X>/python/lib/pyspark.zip`` was built from, or None."""
    lib, name = os.path.split(entry)
    python = os.path.dirname(lib)
    home = os.path.dirname(python)
    if (name, os.path.basename(lib), os.path.basename(python)) != ("pyspark.zip", "lib", "python"):
        return None
    if os.path.isfile(os.path.join(python, "pyspark", "__init__.py")):
        return python  # a Spark binary distribution
    if os.path.basename(home) == "pyspark" and os.path.isfile(os.path.join(home, "__init__.py")):
        return os.path.dirname(home)  # a pip install: <site-packages>/pyspark/python/lib
    return None


def drop_archives(path: list[str], importers: dict) -> None:
    """In place: each pyspark.zip entry of ``path`` becomes its unpacked
    tree, jar entries go, and so do the ``importers`` cached for either."""
    gone = [p for p in path if p.endswith(".jar") or unpacked(p)]
    path[:] = [unpacked(p) or p for p in path if not p.endswith(".jar")]
    for key in list(importers):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del importers[key]


if __name__ == "__main__":
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
