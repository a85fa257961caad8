"""Python-worker daemon that imports PySpark from the unpacked tree.

Spark starts its worker daemon as ``python -m <spark.python.daemon.module>``
with ``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar on
``sys.path``, and every task calls ``importlib.invalidate_caches()``. On
CPython 3.11 each cached ``zipimporter`` then re-reads its archive's whole
directory: 1,328 entries for the zip and 5,359 for the jar, which holds no
Python, about 0.1-0.2 s of CPU per task. When ``$SPARK_HOME/python``
holds ``pyspark`` unpacked (a Spark distribution ships both from one
build), this module puts that directory in the zip's place, drops the jar
that Spark adds from ``$SPARK_HOME/jars``, then runs ``pyspark.daemon``
unchanged. Every other entry, the working directory and any user jar
included, stays. Without an unpacked tree the path stays as Spark built it.

It sits alone in its directory so that this directory, put on the workers'
PYTHONPATH by ``session.get_spark``, exposes nothing else.
"""

import os
import runpy
import sys


def worker_path(path):
    """``path`` with PySpark read from the unpacked tree beside
    ``pyspark.zip`` and Spark's own jar left out, or ``path`` itself when
    there is no such tree."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return list(path)
    tree = os.path.dirname(os.path.dirname(zips[0]))
    if not os.path.isfile(os.path.join(tree, "pyspark", "__init__.py")):
        return list(path)
    jars = os.path.realpath(os.path.join(os.path.dirname(tree), "jars"))
    return [
        tree if p == zips[0] else p
        for p in path
        if not (p.endswith(".jar") and os.path.realpath(os.path.dirname(p)) == jars)
    ]


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
