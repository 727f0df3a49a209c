"""Session defaults: the driver heap derivation (no JVM) and the jobs'
session entry."""

from graphrag_litex_spark.session import default_driver_memory, job_session

GiB = 2**30


def test_default_driver_memory_is_half_of_ram_capped():
    assert default_driver_memory(16 * GiB) == "8g"
    assert default_driver_memory(15 * GiB + 700 * 2**20) == "7g"
    assert default_driver_memory(96 * GiB) == "48g"
    assert default_driver_memory(512 * GiB) == "48g"
    assert default_driver_memory(1 * GiB) == "1g"
    assert default_driver_memory(0) == "1g"


def test_default_driver_memory_reads_this_host():
    gb = int(default_driver_memory().removesuffix("g"))
    assert 1 <= gb <= 48


def test_job_session_joins_the_running_context(spark):
    assert job_session("kgx_test").sparkContext is spark.sparkContext
