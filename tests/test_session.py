"""The session factory's default driver heap fits the host. Pure
Python: ``os.sysconf`` and the cgroup file are patched, no JVM starts."""

from __future__ import annotations

import os

import pytest

from tabsketchfm_spark import session

GB = 1024**3
PAGE = 4096


def _to_mb(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1])


@pytest.fixture
def host(monkeypatch, tmp_path):
    """Set physical memory and the cgroup-v2 ``memory.max`` contents
    (None: no such file)."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cg = tmp_path / "memory.max"
    monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(cg))

    def set_host(phys_bytes: int, memory_max: str | None = None) -> None:
        pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_bytes // PAGE}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        if memory_max is None:
            cg.unlink(missing_ok=True)
        else:
            cg.write_text(memory_max + "\n")

    return set_host


@pytest.mark.parametrize(
    "phys_gb, memory_max_gb",
    [(4, None), (15.7, None), (32, None), (64, None), (512, None),
     (64, 8), (15.7, 2), (8, 32), (512, 100)],
)
def test_default_never_exceeds_16g_or_a_quarter_of_host(
    host, phys_gb, memory_max_gb
):
    phys = int(phys_gb * GB)
    cap = None if memory_max_gb is None else str(int(memory_max_gb * GB))
    host(phys, cap)
    mb = _to_mb(session.default_driver_memory())
    usable = phys if cap is None else min(phys, int(cap))
    assert 0 < mb <= 16 * 1024
    assert mb * 1024 * 1024 <= usable // 4
    # within a megabyte of the bound: the rule takes all it may
    assert mb >= min(16 * 1024, usable // 4 // 2**20)


def test_hosts_with_64gb_or_more_keep_16g(host):
    host(64 * GB)
    assert _to_mb(session.default_driver_memory()) == 16 * 1024
    host(256 * GB, "max")
    assert _to_mb(session.default_driver_memory()) == 16 * 1024


def test_memory_max_of_max_is_ignored(host):
    host(16 * GB, "max")
    unlimited = session.default_driver_memory()
    host(16 * GB)
    assert unlimited == session.default_driver_memory()
    assert _to_mb(unlimited) == 4 * 1024


def test_set_env_var_is_returned_unchanged(host, monkeypatch):
    host(8 * GB, str(1 * GB))
    for value in ("16g", "1g", "3500m", "24G"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
        assert session.default_driver_memory() == value
