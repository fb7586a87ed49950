"""Session sizing: local[N] and the driver heap come from the host unless
the environment overrides them."""

import os

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
