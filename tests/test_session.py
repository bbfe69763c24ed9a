"""Driver-heap default: never past half the host's or container's memory."""

from __future__ import annotations

import pytest

from liblevenshtein_rust_spark import session

PAGE = 4096
GIB = 1 << 30


def _host(monkeypatch, tmp_path, phys_gib, cgroup_limits=()):
    sizes = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_gib * GIB // PAGE}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    paths = []
    for i, text in enumerate(cgroup_limits):
        p = tmp_path / f"limit{i}"
        p.write_text(text + "\n")
        paths.append(str(p))
    paths.append(str(tmp_path / "absent"))
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", tuple(paths))


@pytest.mark.parametrize(
    "phys_gib,want",
    [
        (16, "8192m"),      # 16 GB VM: half the host, not 48g
        (4, "2048m"),
        (96, "49152m"),     # exactly at the cap
        (512, "49152m"),    # large host: the 48g cap
    ],
)
def test_driver_memory_is_half_host_capped_at_48g(monkeypatch, tmp_path, phys_gib, want):
    _host(monkeypatch, tmp_path, phys_gib)
    assert session.default_driver_memory() == want


@pytest.mark.parametrize(
    "limits,want",
    [
        ((str(8 * GIB),), "4096m"),                 # v2 limit below the host
        (("max",), "32768m"),                       # v2 unlimited
        (("9223372036854771712",), "32768m"),       # v1 unlimited
        (("max", str(6 * GIB)), "3072m"),           # v1 limit under a v2 "max"
        ((str(128 * GIB),), "32768m"),              # limit above the host
    ],
)
def test_driver_memory_respects_cgroup_limit(monkeypatch, tmp_path, limits, want):
    _host(monkeypatch, tmp_path, 64, limits)
    assert session.default_driver_memory() == want


class _Conf:
    """The ``spark.conf`` calls ``conf_scope`` makes, over a dict."""

    def __init__(self, **kv):
        self.kv = dict(kv)

    def get(self, k, default):
        return self.kv.get(k, default)

    def set(self, k, v):
        self.kv[k] = v

    def unset(self, k):
        self.kv.pop(k, None)


def test_conf_scope_restores_set_and_unset_keys():
    """Overrides hold inside the body; on exit, also by an exception, a set
    key gets its prior value back and a key that had none is unset again.
    A ``None`` override leaves its key alone."""
    spark = type("S", (), {"conf": _Conf(a="1", keep="k")})()
    with pytest.raises(RuntimeError):
        with session.conf_scope(spark, {"a": 8, "b": "false", "keep": None}):
            assert spark.conf.kv == {"a": "8", "b": "false", "keep": "k"}
            raise RuntimeError
    assert spark.conf.kv == {"a": "1", "keep": "k"}
    with session.conf_scope(spark, {"a": None}):
        assert spark.conf.kv == {"a": "1", "keep": "k"}
