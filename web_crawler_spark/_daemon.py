"""Python worker daemon for local sessions: ``pyspark.daemon`` run from the
installed, unzipped pyspark instead of Spark's ``pyspark.zip``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and
its ``spark-core`` jar on every worker's path. Each Python UDF task calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
directory of every zipimporter in ``sys.path_importer_cache``: 120-200 ms
per task with Spark's entries (16 zipimporters), 0.1 ms without them (Spark 4.1.2,
4 vCPUs, ``local[4]``). ``session.get_spark``
names this module in ``spark.python.daemon.module`` only when the driver's
pyspark is unzipped and of the JVM's version (``session.worker_daemon_module``).
``python -m`` imports ``web_crawler_spark/__init__.py`` before this module,
so that file must not import pyspark: the zipped one would stay loaded.
"""

import importlib.machinery
import os
import runpy
import sys
import zipfile


def _spark_entry(p: str) -> bool:
    name = os.path.basename(p)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.endswith(".jar") and os.path.basename(os.path.dirname(p)) == "jars")
    )


def _same_pyspark(spec, drop: list[str]) -> bool:
    """Whether the installed pyspark's ``version.py`` equals the one in
    Spark's ``pyspark.zip`` (true when no zip is dropped)."""
    with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
        installed = f.read()
    for p in drop:
        if os.path.basename(p) == "pyspark.zip":
            with zipfile.ZipFile(p) as z:
                return z.read("pyspark/version.py") == installed
    return True


def unzip_path() -> bool:
    """Drop Spark's entries from ``sys.path`` and their importers from
    ``sys.path_importer_cache`` if pyspark and py4j are still found without
    them, and the pyspark found is the one Spark's zip holds. Otherwise
    restore both as they were, so the daemon runs as Spark would. Returns
    whether the entries were dropped."""
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    drop = [p for p in path if _spark_entry(p)]
    sys.path[:] = [p for p in path if p not in drop]
    for key in cache:
        if any(key == p or key.startswith(p + os.sep) for p in drop):
            del sys.path_importer_cache[key]
    find = importlib.machinery.PathFinder.find_spec
    try:
        spec = find("pyspark", sys.path)
        if spec and spec.origin and find("py4j", sys.path) and _same_pyspark(spec, drop):
            return True
    except (OSError, KeyError, zipfile.BadZipFile):
        pass  # an unreadable zip or version file: run as Spark would
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    return False


if __name__ == "__main__":
    unzip_path()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
