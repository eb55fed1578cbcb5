"""Default JVM heap sizing in ``session.default_driver_memory``."""

import io
import os

from ontologymatching_spark import session

GiB = 2**30


def _host(monkeypatch, phys_bytes, cgroup_files):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])

    def fake_open(path, *a, **k):
        if path in cgroup_files:
            return io.StringIO(cgroup_files[path])
        raise FileNotFoundError(path)

    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_quarter_of_physical_memory_without_limit(monkeypatch):
    _host(monkeypatch, 16 * GiB, {"/sys/fs/cgroup/memory.max": "max\n"})
    assert session.default_driver_memory() == "4096m"


def test_cgroup_limit_caps_the_heap(monkeypatch):
    # a container limited to 8 GiB on a 64 GiB host gets 2 GiB, not 16
    _host(monkeypatch, 64 * GiB, {"/sys/fs/cgroup/memory.max": f"{8 * GiB}\n"})
    assert session.default_driver_memory() == "2048m"
    _host(monkeypatch, 64 * GiB,
          {"/sys/fs/cgroup/memory/memory.limit_in_bytes": f"{8 * GiB}\n"})
    assert session.default_driver_memory() == "2048m"


def test_no_physical_memory_size_leaves_spark_default(monkeypatch):
    def no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", no_sysconf)
    assert session.default_driver_memory() is None
