"""The default driver heap follows the task slots and fits the host.

Runs no JVM: ``get_spark`` is driven through a builder that records the conf
it is given.
"""

import re

import pytest

from hebrew_ner_spark import session

GIB = 1024


def _mb(size: str) -> int:
    m = re.fullmatch(r"(\d+)([mg])", size)
    assert m, size
    return int(m.group(1)) * (GIB if m.group(2) == "g" else 1)


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def requested_heap(monkeypatch):
    """Heap that ``get_spark`` asks for on a host of ``slots`` task slots and
    ``host_mb`` MiB of physical memory."""

    def run(slots, host_mb):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(slots))
        monkeypatch.setattr(session, "host_memory_mb", lambda: host_mb, raising=False)
        builder = _RecordingBuilder()
        monkeypatch.setattr(
            session, "SparkSession", type("S", (), {"builder": builder})
        )
        return session.get_spark("heap")["spark.driver.memory"]

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    return run


def test_sandbox_sizing_kept(requested_heap):
    assert requested_heap(32, 128 * GIB) == "24g"
    assert requested_heap(32, 32 * GIB) == "24g"


def test_small_host_capped_at_three_quarters(requested_heap):
    host_mb = 16 * 1000**3 // 2**20  # a 16 GB host
    assert _mb(requested_heap(4, host_mb)) <= host_mb * 3 // 4
    assert _mb(requested_heap(32, host_mb)) <= host_mb * 3 // 4


def test_heap_grows_with_slots_below_cap():
    sizes = [_mb(session.driver_memory(n, 128 * GIB)) for n in (1, 2, 4, 8, 16, 32)]
    assert sizes == sorted(set(sizes))
    assert sizes[2] == 3 * GIB  # 4 slots
    assert session.driver_memory(64, 32 * GIB) == "24g"  # the cap binds


def test_env_override_used_verbatim(requested_heap, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert requested_heap(4, 16 * GIB) == "6g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1536m")
    assert requested_heap(32, 128 * GIB) == "1536m"
