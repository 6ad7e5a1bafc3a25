"""Session defaults fitted to the host."""

from dat_archive_map_reduce_spark.session import default_driver_memory


def test_default_driver_memory_leaves_headroom():
    """The default driver heap is half of MemTotal, clamped to
    1-16 GiB — never a fixed size the host may not have."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    got = default_driver_memory()
    assert got.endswith("m")
    mib = int(got[:-1])
    assert 1024 <= mib <= 16 << 10
    assert mib <= max(1024, total_kib // 1024 // 2)
