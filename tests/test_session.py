"""Driver-heap default of get_spark, sized to the machine."""

from cpg_spark.session import default_driver_memory


def test_driver_memory_is_half_of_ram_capped_at_16g():
    # a 15 GB machine gets half its RAM, not a fixed 16g
    assert default_driver_memory("MemTotal:       15728640 kB\n") == "7680m"
    big = "MemFree: 1 kB\nMemTotal:       134217728 kB\n"
    assert default_driver_memory(big) == "16384m"
