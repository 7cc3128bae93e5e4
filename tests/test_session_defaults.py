"""Session factory defaults: the 2×cores shuffle-partitions default is
a LOCAL-master convenience only — explicit cluster masters must leave
the setting unset, because the driver's cpu count says nothing about
cluster width (round-3 ADVICE: get_spark(master="spark://...") was
still deriving ~2×driver-cores and pinning wide stages)."""

from __future__ import annotations

import os

from reddit_processing_spark.session import (
    _default_driver_memory,
    _default_shuffle_partitions,
    _driver_memory_from_meminfo,
)


def test_local_bracketed_master_uses_its_core_count():
    assert _default_shuffle_partitions("local[4]") == 8
    assert _default_shuffle_partitions("local[16]") == 32
    assert _default_shuffle_partitions("local[2]") == 8  # floor of 8


def test_local_star_master_uses_host_cores():
    n = os.cpu_count() or 8
    assert _default_shuffle_partitions("local[*]") == max(8, 2 * n)
    assert _default_shuffle_partitions("local") == max(8, 2 * n)


def test_cluster_masters_get_no_default():
    assert _default_shuffle_partitions("spark://host:7077") is None
    assert _default_shuffle_partitions("yarn") is None
    assert _default_shuffle_partitions("k8s://https://host:443") is None


def test_launcher_owned_master_gets_no_default():
    assert _default_shuffle_partitions(None) is None


def test_driver_memory_is_40_percent_of_ram_floored_to_gib():
    # a 15.7 GiB host (16,456,384 kB) gets 6g, not a fixed 48g that G1
    # grows past physical RAM
    assert _driver_memory_from_meminfo("MemTotal:       16456384 kB\n") == "6g"
    assert _driver_memory_from_meminfo(
        "MemTotal:       67108864 kB\nMemFree: 1 kB\n"
    ) == "25g"
    assert _driver_memory_from_meminfo("MemTotal: 1048576 kB\n") == "1g"  # floor of 1g
    assert _driver_memory_from_meminfo("MemFree: 1 kB\n") is None


def test_driver_memory_default_is_local_only():
    assert _default_driver_memory("local[4]") is not None
    assert _default_driver_memory("spark://host:7077") is None
    assert _default_driver_memory("yarn") is None
    assert _default_driver_memory(None) is None
