"""Session defaults that do not need a running Spark."""

from __future__ import annotations

from wikidata_pq_spark import session


def _host_with_gib(gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    return pages.__getitem__


def test_default_driver_memory_is_half_of_ram_capped_at_24g(monkeypatch):
    monkeypatch.setattr(session.os, "sysconf", _host_with_gib(16))
    assert int(session._default_driver_memory().removesuffix("g")) <= 8
    monkeypatch.setattr(session.os, "sysconf", _host_with_gib(64))
    assert session._default_driver_memory() == "24g"


def test_default_cpus_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session._default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session._default_cpus() == 5
