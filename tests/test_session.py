"""Session resource defaults come from the machine, not constants."""

import os

from search_engine_spark.session import _default_cpus, _default_driver_mem


def test_default_cpus_from_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cpus() == "3"


def test_default_driver_mem_is_quarter_of_memtotal(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    mem = _default_driver_mem()
    assert mem.endswith("m")
    # a quarter of RAM: 32g on a 128 GiB machine
    assert abs(int(mem[:-1]) * 1024 * 4 - kb) < 4 * 1024
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert _default_driver_mem() == "2g"
