"""CLI smoke tests at the real surface (subprocess, fresh interpreter)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str):
    return subprocess.run([sys.executable, "-m", "integrator_spark", *args],
                          cwd=REPO, capture_output=True, text=True,
                          timeout=240)


def test_cli_list_shows_catalog():
    p = _run("list")
    assert p.returncode == 0
    assert "q1_pricing_summary" in p.stdout
    assert "vec_knn" in p.stdout


def test_cli_oracle_prints_sql():
    p = _run("oracle", "q1_pricing_summary")
    assert p.returncode == 0
    assert "GROUP BY l_returnflag" in p.stdout


def test_cli_unknown_query_fails_cleanly():
    p = _run("run", "no_such_query")
    assert p.returncode == 2
    assert "unknown query" in p.stderr


_SHIP_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from integrator_spark.operators.knn import knn_exact
from integrator_spark.session import build_session
spark = build_session("ship-test", cpus=2)
emb = spark.createDataFrame(
    [(i, [float((i * 5 + j * 3) % 7) + 1.0 for j in range(6)])
     for i in range(9)], "vec_id long, embedding array<float>")
print("rows", len(knn_exact(emb, k=2).collect()))
spark.stop()
"""


def test_build_session_ships_package_to_workers(tmp_path):
    # A driver started outside the repo, with the package only on its
    # own sys.path: the pandas-UDF workers of knn_exact must still
    # import integrator_spark, so build_session has to ship it.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    p = subprocess.run([sys.executable, "-c",
                        _SHIP_SCRIPT.format(repo=REPO)],
                       cwd=tmp_path, env=env, capture_output=True,
                       text=True, timeout=240)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "rows 18" in p.stdout


def test_package_zip_is_written_once(tmp_path):
    # Every session ships the package as a zip in the temp directory;
    # the zip is named by a hash of the sources, so building it again
    # (another process of the same tree) reuses it instead of leaving
    # a second file behind.
    import zipfile

    from integrator_spark.session import _package_zip

    first = _package_zip(str(tmp_path))
    assert _package_zip(str(tmp_path)) == first
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    names = zipfile.ZipFile(first).namelist()
    assert "integrator_spark/session.py" in names
