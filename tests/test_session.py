"""Session sizing: shuffle partitions and driver heap default to the host,
and every explicit setting keeps precedence over the derived default."""

from __future__ import annotations

import pytest

from dbt_datbricks_demo_spark.session import (
    FALLBACK_DRIVER_MEM,
    SHUFFLE_PARTITIONS,
    default_driver_memory,
    get_spark,
    resolve_shuffle_partitions,
)

ENV = "SPARK_GRAFT_SHUFFLE_PARTITIONS"


def test_shuffle_partitions_resolution_order():
    # argument beats the environment, which beats the core count
    assert resolve_shuffle_partitions(8, "16", 4) == 8
    assert resolve_shuffle_partitions(None, "16", 4) == 16
    assert resolve_shuffle_partitions(None, None, 4) == 4
    # an empty variable counts as unset
    assert resolve_shuffle_partitions(None, "", 4) == 4
    # no fixed floor or ceiling: the default is exactly the core count
    assert resolve_shuffle_partitions(None, None, 32) == 32
    assert resolve_shuffle_partitions(None, None, 1) == 1


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_the_host(tmp_path):
    gb = 1024 * 1024  # kB
    assert default_driver_memory(_meminfo(tmp_path, 15 * gb)) == "7680m"
    # capped at 24g on large hosts
    assert default_driver_memory(_meminfo(tmp_path, 256 * gb)) == "24576m"
    # never below 1g
    assert default_driver_memory(_meminfo(tmp_path, gb)) == "1024m"


def test_driver_memory_fallback(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == FALLBACK_DRIVER_MEM
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == FALLBACK_DRIVER_MEM
    garbled = tmp_path / "garbled"
    garbled.write_text("MemTotal: lots\n")
    assert default_driver_memory(str(garbled)) == FALLBACK_DRIVER_MEM


@pytest.fixture
def restore_shuffle_conf(spark):
    """get_spark returns the shared session; put its conf back after."""
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    yield
    spark.conf.set(SHUFFLE_PARTITIONS, before)


def test_get_spark_applies_resolution_order(spark, monkeypatch, restore_shuffle_conf):
    monkeypatch.delenv(ENV, raising=False)
    cores = spark.sparkContext.defaultParallelism

    def partitions(**kw) -> int:
        return int(get_spark(**kw).conf.get(SHUFFLE_PARTITIONS))

    spark.conf.set(SHUFFLE_PARTITIONS, "200")
    assert partitions() == cores
    monkeypatch.setenv(ENV, "7")
    assert partitions() == 7
    assert partitions(shuffle_partitions=3) == 3
    # an explicit conf entry wins over all of them
    assert partitions(shuffle_partitions=3, extra_conf={SHUFFLE_PARTITIONS: "6"}) == 6
