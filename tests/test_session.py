"""Driver heap sizing of ``get_spark``: checked without launching a JVM."""

from __future__ import annotations

import os
import types

import pytest

from graph_vulcan_assets_spark import session

GIB = 1024**3


def _bytes(mem: str) -> int:
    units = {"k": 1024, "m": 1024**2, "g": GIB, "t": 1024**4}
    return int(mem[:-1]) * units[mem[-1].lower()]


def _fake_host(monkeypatch, tmp_path, phys_bytes: int, cgroup_limit: str | None = None):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    limits = ()
    if cgroup_limit is not None:
        path = tmp_path / "memory.max"
        path.write_text(cgroup_limit + "\n")
        limits = (str(path),)
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", limits)


def test_default_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _bytes(session.driver_memory())
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= phys // 4
    assert heap <= session.host_memory_bytes() // 4
    assert heap <= 24 * GIB


@pytest.mark.parametrize(
    "phys_gib, cgroup_limit, expected",
    [
        (16, None, "4096m"),
        (16, "max", "4096m"),  # cgroup v2 with no limit
        (16, str(2**63 - 4096), "4096m"),  # cgroup v1 with no limit
        (16, str(8 * GIB), "2048m"),  # a lower cgroup limit wins
        (96, None, "24576m"),
        (512, None, "24576m"),  # capped at 24g
    ],
)
def test_default_is_quarter_of_host_capped_at_24g(
    monkeypatch, tmp_path, phys_gib, cgroup_limit, expected
):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, tmp_path, phys_gib * GIB, cgroup_limit)
    assert session.driver_memory() == expected


def test_env_var_overrides_default(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "24g")
    assert session.driver_memory() == "24g"


class _RecordingBuilder:
    def __init__(self):
        self.confs: dict[str, str] = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        raise _Built()


class _Built(Exception):
    pass


@pytest.mark.parametrize("env", [None, "3g"])
def test_get_spark_requests_driver_memory(monkeypatch, tmp_path, env):
    _fake_host(monkeypatch, tmp_path, 16 * GIB)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    with pytest.raises(_Built):
        session.get_spark(master="local[1]")
    assert builder.confs["spark.driver.memory"] == (env or "4096m")
