import os

import pytest

from graphrag_litex_spark import datagen
from graphrag_litex_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # session.py's default heap cap (48g) is above the RAM of a 16 GB test
    # host; G1 then grows the heap past physical memory (12+ GB RSS within
    # the first ~60 tests) and the kernel OOM-kills the JVM mid-suite.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark(
        app_name="graphrag_litex_spark_tests",
        cores=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def corpus_sf0001():
    """Deterministic synthetic corpus + single-process golden outputs."""
    return datagen.ensure_corpus(0.001)


@pytest.fixture(scope="session")
def pipeline_sf0001(spark, corpus_sf0001, tmp_path_factory):
    """Full pipeline run at sf0.001 (shared across e2e tests)."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("kg_out"))
    return run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False)
