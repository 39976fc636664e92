"""Local-mode session defaults derived from the host."""

from database_anonymiser_spark.session import host_defaults

MEMINFO = "MemTotal:       16456384 kB\nMemFree:        14000000 kB\n"


def test_host_defaults_use_every_core_and_60_percent_of_ram():
    assert host_defaults(4, MEMINFO) == ("4", "9642m")  # 16456384 kB * 0.6


def test_host_defaults_cap_the_heap_at_16g():
    assert host_defaults(64, "MemTotal:  268435456 kB\n") == ("64", "16384m")


def test_host_defaults_fall_back_to_16g_without_meminfo():
    assert host_defaults(2, None) == ("2", "16384m")
    assert host_defaults(2, "garbage\n") == ("2", "16384m")
