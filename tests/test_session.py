"""Driver heap default: sized from the memory the process can see."""

from pyrate_spark.session import driver_memory

GiB = 1 << 30


def test_half_of_available_memory():
    assert driver_memory(16 * GiB, None) == "8192m"


def test_cgroup_limit_wins_when_smaller():
    assert driver_memory(60 * GiB, 8 * GiB) == "4096m"
    assert driver_memory(8 * GiB, 60 * GiB) == "4096m"


def test_unlimited_cgroup_is_ignored():
    # cgroup v1 reports "no limit" as a page-rounded 2^63 - 1
    assert driver_memory(16 * GiB, 9223372036854771712) == "8192m"


def test_capped_on_a_big_host():
    assert driver_memory(512 * GiB, None) == "12288m"


def test_floor_on_a_small_host():
    assert driver_memory(1 * GiB, None) == "1024m"


def test_unknown_memory_falls_back_to_the_cap():
    assert driver_memory(None, None) == "12288m"
    assert driver_memory(0, None) == "12288m"
