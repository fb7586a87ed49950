"""Python-worker daemon that imports pyspark from ``$SPARK_HOME/python``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar
on every worker's ``PYTHONPATH``, and each Python task's
``importlib.invalidate_caches()`` re-reads the directory of every zip
importer (the cost is measured in ``pivot_spark/session.py``). The
unpacked ``python/`` tree beside the zip holds the same files, so this
module swaps it in, drops the jars (no Python in them), forgets their
importers and then runs ``pyspark.daemon`` as Spark would. Run it as
``python -m pivot_spark._daemon``; ``session.WORKER_CONF`` sets that.
"""

import os
import runpy
import sys


def _worker_path(path: "list[str]") -> "list[str]":
    """``path`` with each ``<python>/lib/pyspark.zip`` swapped for the
    ``<python>`` tree beside it (where that tree holds pyspark) and every
    jar dropped."""
    out = []
    for p in path:
        if p.endswith(".jar"):
            continue
        python = os.path.dirname(os.path.dirname(p))
        if (p.endswith(os.path.join("lib", "pyspark.zip"))
                and os.path.exists(os.path.join(python, "pyspark", "daemon.py"))):
            p = python
        out.append(p)
    return out


if __name__ == "__main__":
    old = list(sys.path)
    sys.path[:] = _worker_path(old)
    for p in set(old) - set(sys.path):
        sys.path_importer_cache.pop(p, None)
    # $SPARK_HOME is not ours: write no .pyc files into it
    sys.dont_write_bytecode = True
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
