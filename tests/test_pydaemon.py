"""The Python worker daemon (``graphrag_litex_spark.pydaemon``): workers run
from a ``sys.path`` without Spark's zip archives, the path filter falls
back to the stock path whenever the plain-directory pyspark is missing or
differs, and ``get_spark`` makes the daemon resolve from any working
directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from graphrag_litex_spark.pydaemon import zip_free_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_from_a_zip_free_path(spark):
    """A Python task sees no archive on ``sys.path``, no zip importer in
    ``sys.path_importer_cache``, and the driver's Spark version."""

    def probe(batches):
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = [
            p for p in sys.path if os.path.isfile(p) and p.endswith((".zip", ".jar"))
        ]
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict(
            {
                "archives": [json.dumps(archives)],
                "zipimporters": [json.dumps(zips)],
                "version": [pyspark.__version__],
            }
        )

    row = (
        spark.range(0, 1, 1, 1)
        .mapInArrow(probe, "archives string, zipimporters string, version string")
        .first()
    )
    assert json.loads(row["archives"]) == []
    assert json.loads(row["zipimporters"]) == []
    assert row["version"] == spark.version


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        f = root / name
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(text)
    return str(root)


def _version(v):
    return f'__version__: str = "{v}"\n'


def _layout(tmp_path, plain=None, version="9.9.1", daemon=""):
    """Spark's three archives (pyspark 9.9.1) then a plain site directory
    holding ``plain`` (default: pyspark ``version`` and py4j)."""
    archived = {
        "pyspark/__init__.py": "",
        "pyspark/version.py": _version("9.9.1"),
        "pyspark/daemon.py": daemon.replace("SOURCE", "archive"),
    }
    if plain is None:
        plain = {
            "pyspark/__init__.py": "",
            "pyspark/version.py": _version(version),
            "pyspark/daemon.py": daemon.replace("SOURCE", "plain"),
            "py4j/__init__.py": "",
        }
    return [
        _zip(tmp_path / "python" / "lib" / "pyspark.zip", archived),
        _zip(tmp_path / "python" / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "jars" / "spark-core_2.13-9.9.1.jar", {"META-INF/MANIFEST.MF": ""}),
        _tree(tmp_path / "site", plain),
    ]


def test_zip_free_path_drops_the_archives(tmp_path):
    path = _layout(tmp_path)
    assert zip_free_path(path) == [path[3]]


@pytest.mark.parametrize(
    "case, plain, version",
    [
        ("no plain pyspark", {"py4j/__init__.py": ""}, None),
        ("no plain py4j", {"pyspark/__init__.py": "", "pyspark/version.py": _version("9.9.1")}, None),
        ("other pyspark version", None, "9.9.0"),
        ("unreadable pyspark version", {"pyspark/__init__.py": "", "py4j/__init__.py": ""}, None),
    ],
)
def test_zip_free_path_falls_back_unchanged(tmp_path, case, plain, version):
    path = _layout(tmp_path, plain=plain, version=version or "9.9.1")
    assert zip_free_path(path) is path


def test_zip_free_path_without_archives_is_unchanged(tmp_path):
    path = _layout(tmp_path)[3:]
    assert zip_free_path(path) is path


def test_module_imports_no_pyspark():
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, graphrag_litex_spark.pydaemon; "
            "print([m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')])",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "[]"


# The stand-in pyspark.daemon: reports where it was imported from and the
# path the daemon handed over, then exits instead of serving workers.
_DAEMON = """
import json, os, sys, zipimport
def manager():
    print(json.dumps({
        "daemon": "SOURCE",
        "path": sys.path,
        "zipimporters": sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        ),
    }))
"""


@pytest.mark.parametrize("version, source", [("9.9.1", "plain"), ("9.9.0", "archive")])
def test_daemon_edits_the_path_before_importing_pyspark(tmp_path, version, source):
    """``python -m graphrag_litex_spark.pydaemon`` with the archives first
    on ``PYTHONPATH``, as the JVM starts it: with a matching plain pyspark
    it hands off to the plain ``pyspark.daemon`` on a path with no archive
    and no zip importer; had it imported pyspark before editing the path,
    the archived daemon would run. A version mismatch keeps the JVM's path."""
    path = _layout(tmp_path, version=version, daemon=_DAEMON)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path + [REPO]))
    proc = subprocess.run(
        [sys.executable, "-m", "graphrag_litex_spark.pydaemon"],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout)
    assert out["daemon"] == source
    archives = set(path[:3])
    if source == "plain":
        assert not archives & set(out["path"]) and out["zipimporters"] == 0
    else:
        assert archives <= set(out["path"]) and out["zipimporters"] > 0


_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from graphrag_litex_spark.operators.extraction import extract_items
from graphrag_litex_spark.session import get_spark

spark = get_spark(cores=2, extra_conf={{"spark.ui.showConsoleProgress": "false"}})
chunks = spark.createDataFrame(
    list(enumerate(json.loads(sys.argv[1]))), "turn_idx long, text string"
).selectExpr("'c0' AS conv_id", "turn_idx", "text")
items = [r.asDict() for r in extract_items(chunks).where("kind = 'e'").collect()]
print(json.dumps({{
    "python_path": spark.conf.get("spark.executorEnv.PYTHONPATH"),
    "names": sorted({{r["f1"] for r in items}}),
}}))
spark.stop()
"""


@pytest.mark.slow
def test_get_spark_outside_the_repo(tmp_path):
    """``get_spark`` from a working directory outside the repo, with
    ``PYTHONPATH`` unset: the daemon and the extraction kernel resolve on
    the workers through ``spark.executorEnv.PYTHONPATH`` alone."""
    from graphrag_litex_spark.functions.extract import extract_turn_flat

    turns = [
        "Alice Johnson works at Acme Corp.",
        "Acme Corp won an industry award in Berlin.",
        "Bob Smith met Alice Johnson.",
    ]
    script = tmp_path / "run.py"
    script.write_text(_SCRIPT.format(repo=REPO))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, str(script), json.dumps(turns)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["python_path"].split(os.pathsep)[-1] == REPO
    expected = sorted({e[0] for t in turns for e in (extract_turn_flat(t) or ([],))[0]})
    assert expected and out["names"] == expected
