import os
import re

import pytest

from graphrag_litex_spark import datagen
from graphrag_litex_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # A fixed heap cap, whatever the host: G1 grows the heap toward its cap
    # (12+ GB RSS within the first ~60 tests under a 48g cap), and a cap
    # near physical memory gets the JVM OOM-killed mid-suite.
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


_PY_NODES = re.compile(r"Python|InArrow|InPandas")


def plan_nodes(plan) -> list[str]:
    """Node names of a plan tree string (cached inner plans included)."""
    names = []
    for line in plan.toString().splitlines():
        m = re.match(r"^[\s:|+-]*(?:\*\(\d+\) )?([A-Za-z]+)", line)
        if m:
            names.append(m.group(1))
    return names


def python_nodes(plan) -> list[str]:
    """Node names of a plan that run Python."""
    return [n for n in plan_nodes(plan) if _PY_NODES.search(n)]
