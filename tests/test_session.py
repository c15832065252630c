"""Session defaults sized to the machine (session.py)."""

from __future__ import annotations

from nba_data_pipeline_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_sixty_percent_of_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(16_479_424 * 1024) == "9g"  # a 15.7 GiB host
    assert driver_memory(10 * GIB) == "6g"
    # capped at 16g, floored at 1g
    assert driver_memory(64 * GIB) == "16g"
    assert driver_memory(GIB) == "1g"
    assert driver_memory(GIB // 2) == "1g"


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(64 * GIB) == "3g"
    assert driver_memory() == "3g"


def test_session_uses_the_derived_driver_memory(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == (
        driver_memory()
    )
