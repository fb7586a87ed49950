"""Session sizing: local[N] and the driver heap come from the host unless
the environment overrides them. Python workers start from
``pivot_spark._daemon``, with pyspark imported from its unpacked tree."""

import os
import subprocess
import sys

import pytest

from pivot_spark import session


def test_driver_mem_is_a_quarter_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:         1000000 kB\n")
    assert session.host_driver_mem(str(meminfo)) == "4023m"
    assert session.host_driver_mem(str(tmp_path / "missing")) == "1g"


def test_session_size_from_host_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session.session_size()
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert mem == session.host_driver_mem()
    assert mem.endswith("m") and int(mem[:-1]) > 0

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.session_size() == ("3", "2g")


def test_worker_path_swaps_pyspark_zip_for_its_tree_and_drops_jars(tmp_path):
    from pivot_spark._daemon import _worker_path

    (tmp_path / "python" / "pyspark").mkdir(parents=True)
    (tmp_path / "python" / "pyspark" / "daemon.py").write_text("")
    zip_ = str(tmp_path / "python" / "lib" / "pyspark.zip")
    bare = "/nowhere/python/lib/pyspark.zip"  # no unpacked tree beside it
    path = ["", zip_, "/a/py4j-src.zip", "/jars/spark-core.jar", bare, "/site"]
    assert _worker_path(path) == [
        "", str(tmp_path / "python"), "/a/py4j-src.zip", bare, "/site"]


_WORKER_ORIGIN = """
import sys
sys.path.insert(0, {repo!r})
from pivot_spark.session import get_spark

def origin(batches):
    import sys, pandas as pd, pyspark
    for _ in batches:
        pass
    keys = [k for k, f in sys.path_importer_cache.items()
            if f is not None and type(f).__name__ != "FileFinder"]
    yield pd.DataFrame({{"file": [pyspark.__file__], "keys": ["|".join(keys)]}})

spark = get_spark("worker_origin")
for r in spark.range(0, 40, numPartitions=4).mapInPandas(
        origin, "file string, keys string").collect():
    print(r.file, r.keys, sep="\\t")
spark.stop()
"""


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"),
                                   "python", "pyspark")),
    reason="no unpacked $SPARK_HOME/python/pyspark tree")
def test_get_spark_workers_import_pyspark_from_its_tree(tmp_path):
    """Each worker of a get_spark session imports pyspark from
    ``$SPARK_HOME/python`` and holds no importer over ``pyspark.zip`` or
    a jar, whose directories every task's ``invalidate_caches()`` would
    re-read. The driver runs outside the repository, so the workers find
    the daemon on PYTHONPATH, not in the working directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_ORIGIN.format(repo=repo)], cwd=tmp_path,
        check=True, capture_output=True, text=True, timeout=300).stdout
    rows = [line.split("\t") for line in out.splitlines() if "\t" in line]
    assert len(rows) == 4
    for file, keys in rows:
        assert ".zip" not in file
        assert not [k for k in keys.split("|")
                    if k.endswith("pyspark.zip") or k.endswith(".jar")]
