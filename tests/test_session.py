"""Driver heap sizing: the default follows the host, the env var wins."""

from __future__ import annotations

from gcp_food_delivery_data_pipeline_spark import session

GIB = 1024**3


def test_driver_memory_is_half_the_host_capped_at_32g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 16 * GIB)
    assert session.default_driver_memory() == "8192m"
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 128 * GIB)
    assert session.default_driver_memory() == "32g"
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: None)
    assert session.default_driver_memory() == "32g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 16 * GIB)
    assert session.default_driver_memory() == "3g"


def test_host_memory_takes_the_smaller_of_cgroup_and_meminfo(
    monkeypatch, tmp_path
):
    v2 = tmp_path / "memory.max"
    v1 = tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_LIMITS", (str(v2), str(v1)))
    meminfo_bytes = session._host_memory_bytes()
    assert meminfo_bytes and meminfo_bytes > 0  # MemTotal alone

    v2.write_text("max\n")  # unlimited cgroup v2: MemTotal wins
    assert session._host_memory_bytes() == meminfo_bytes
    v1.write_text(f"{2 * GIB}\n")  # a tighter cgroup v1 limit wins
    assert session._host_memory_bytes() == 2 * GIB
