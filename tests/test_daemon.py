"""The engine's Python worker daemon (``cloudfront_kinesis_log_lambda_spark.daemon``).

On a local master ``get_spark`` starts Python workers from it, so they
import the installed pyspark rather than ``pyspark.zip`` and hold no
zipimporter for ``importlib.invalidate_caches()`` to re-read before each
task. A session check runs in a subprocess from a temporary directory,
reaching the package only through ``sys.path.insert``; the version
fallback and the lazy package import start no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from cloudfront_kinesis_log_lambda_spark import daemon

_ROOT = Path(__file__).resolve().parents[1]

_SESSION_SCRIPT = r"""
import json
import sys

sys.path.insert(0, sys.argv[1])
from cloudfront_kinesis_log_lambda_spark import get_spark

import pandas as pd
from pyspark.sql import functions as F


def origin():
    import sys
    import zipimport

    import pyspark

    zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    return pyspark.__file__, zips


def arrow_task(batches):
    import pyarrow as pa

    n = sum(b.num_rows for b in batches)
    path, zips = origin()
    yield pa.RecordBatch.from_pylist([{"rows": n, "path": path, "zips": zips}])


def udf_task(ids: pd.Series) -> pd.Series:
    path, zips = origin()
    return pd.Series([json.dumps([len(ids), path, zips])] * len(ids))


spark = get_spark(master="local[2]")
udf_task = F.pandas_udf(udf_task, "string")
df = spark.range(10).coalesce(1)
arrow = df.mapInArrow(arrow_task, "rows long, path string, zips long").collect()
udf = df.select(udf_task("id").alias("r")).distinct().collect()
print(json.dumps({
    "conf": spark.conf.get("spark.python.daemon.module"),
    "arrow": [list(r) for r in arrow],
    "udf": [json.loads(r.r) for r in udf],
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def worker_report(tmp_path_factory):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT, str(_ROOT)],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=tmp_path_factory.mktemp("elsewhere"),
    )
    return proc


def test_workers_start_from_any_cwd(worker_report):
    assert worker_report.returncode == 0, worker_report.stderr[-3000:]
    got = json.loads(worker_report.stdout.strip().splitlines()[-1])
    assert got["conf"] == "cloudfront_kinesis_log_lambda_spark.daemon"
    assert [r[0] for r in got["arrow"]] == [10]
    assert [r[0] for r in got["udf"]] == [10]


def test_workers_import_pyspark_outside_any_zip(worker_report):
    assert worker_report.returncode == 0, worker_report.stderr[-3000:]
    got = json.loads(worker_report.stdout.strip().splitlines()[-1])
    for _, path, zips in [*got["arrow"], *got["udf"]]:
        assert ".zip" not in path, path
        assert zips == 0


def _spark_zip(tmp_path: Path, version: str) -> str:
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(archive)


def test_version_mismatch_keeps_sparks_path(tmp_path, capsys):
    archive = _spark_zip(tmp_path, "0.0.1")
    path = ["/work", archive, "/spark/jars/spark-core_2.13.jar", "/lib/python3.11"]
    cache = {archive: "importer", "/lib/python3.11": "finder"}
    assert not daemon.use_installed_pyspark(path, cache)
    assert path == ["/work", archive, "/spark/jars/spark-core_2.13.jar", "/lib/python3.11"]
    assert cache == {archive: "importer", "/lib/python3.11": "finder"}
    err = capsys.readouterr().err
    assert len(err.splitlines()) == 1 and "0.0.1" in err, err


def test_matching_version_drops_sparks_archives(tmp_path, capsys):
    archive = _spark_zip(tmp_path, daemon.installed_version())
    py4j = "/spark/lib/py4j-0.10.9.9-src.zip"
    jar = "/spark/jars/spark-core_2.13.jar"
    path = ["/work", archive, py4j, jar, "/lib/python311.zip", "/lib/python3.11"]
    cache = {archive: "a", py4j: "b", jar: "c", "/lib/python3.11": "finder"}
    assert daemon.use_installed_pyspark(path, cache)
    assert path == ["/work", "/lib/python311.zip", "/lib/python3.11"]
    assert cache == {"/lib/python3.11": "finder"}
    assert capsys.readouterr().err == ""


def test_package_import_leaves_pyspark_unimported():
    script = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import cloudfront_kinesis_log_lambda_spark.daemon; "
        "print('pyspark' in sys.modules)"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(_ROOT)],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "False"
