"""Session defaults: the driver heap derivation (no JVM), the settings
``get_spark`` applies, and the jobs' session entry."""

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


def test_get_spark_turns_off_call_sites_and_checkpoint_warns(spark):
    """PySpark's per-Column call-site capture is off, and the logger that
    warns once per released local checkpoint logs errors only."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    log4j = spark._jvm.org.apache.logging.log4j
    logger = log4j.LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    assert logger.getLevel().toString() == "ERROR"


def test_job_session_joins_the_running_context(spark):
    assert job_session("kgx_test").sparkContext is spark.sparkContext


class _FakeBuilder:
    def appName(self, name):
        return self

    def config(self, key, value):
        return self

    def getOrCreate(self):
        return "builder-session"


class _NoActiveSession:
    builder = _FakeBuilder()

    @staticmethod
    def getActiveSession():
        return None


def _fake_spark_classes(monkeypatch):
    from graphrag_litex_spark import session

    monkeypatch.setattr(session, "SparkSession", _NoActiveSession)
    monkeypatch.setattr(session, "get_spark", lambda app_name: "get-spark-session")


def test_job_session_outside_spark_submit_uses_get_spark(monkeypatch):
    """Under a plain ``python3`` (no gateway handed over by spark-submit)
    the builder would start a stock-settings JVM, so ``get_spark`` runs."""
    _fake_spark_classes(monkeypatch)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert job_session("kgx_test") == "get-spark-session"


def test_job_session_under_spark_submit_uses_the_builder(monkeypatch):
    _fake_spark_classes(monkeypatch)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert job_session("kgx_test") == "builder-session"
