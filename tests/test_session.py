"""Session defaults sized to the box they run on."""

from __future__ import annotations

from ska_src_maltopuft_etl_spark.engine.session import box_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_two_thirds_of_ram(tmp_path):
    # a 15.7 GB VM: two thirds, in MiB, well under physical memory
    assert box_driver_memory(_meminfo(tmp_path, 16_456_384)) == "10713m"
    assert box_driver_memory(_meminfo(tmp_path, 3 * 1024 * 1024)) == "2048m"


def test_driver_memory_caps_at_16g(tmp_path):
    assert box_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert box_driver_memory(str(tmp_path / "absent")) == "16384m"
    (tmp_path / "empty").write_text("MemFree: 1 kB\n")
    assert box_driver_memory(str(tmp_path / "empty")) == "16384m"


def test_session_keeps_spark_aqe_and_split_defaults(spark):
    """get_spark leaves AQE (with partition coalescing and skew-join
    splitting) and the 128 MiB file split to Spark's own defaults."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        assert spark.conf.get(key) == "true", key
    sql_conf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    assert sql_conf.filesMaxPartitionBytes() == 128 * 1024 * 1024
