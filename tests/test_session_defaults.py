"""Session defaults are sized from the host, and the registry's table reads
leave the session's shuffle policy alone."""

from __future__ import annotations

from polars_pipe_spark.session import default_driver_memory

GiB = 2**30


def test_driver_heap_is_half_of_physical_memory():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(16 * GiB) == "8192m"


def test_driver_heap_is_capped_at_32g():
    assert default_driver_memory(64 * GiB) == "32768m"
    assert default_driver_memory(128 * GiB) == "32768m"


def test_table_read_keeps_shuffle_partitions_and_pins_utc(spark, tmp_path):
    import __spark_entry__ as entry

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.session.timeZone")}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert entry._t(spark, str(tmp_path), "t").count() == 3
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
