"""North-rule launch path: the engine runs via ``spark-submit
--py-files <package zip>`` (subprocess, fresh JVM — the exact cluster
submission shape, scaled to local master)."""

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_py_files_flagship():
    import gdal_drivers_spark as g

    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[8]",
            "--py-files", g.package_zip(),
            os.path.join(REPO, "scripts", "submit_job.py"),
        ],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["rows"] == 8
    assert res["regions"] == [f"r{i}" for i in range(8)]


def test_package_zip_ships_the_running_checkout(tmp_path):
    """A second checkout with one edited file gets its own zip, and
    that zip holds the edited bytes — never the other checkout's code."""
    import sys
    import zipfile

    import gdal_drivers_spark as g

    shutil.copytree(os.path.join(REPO, "gdal_drivers_spark"),
                    tmp_path / "gdal_drivers_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    edited = tmp_path / "gdal_drivers_spark" / "engine.py"
    edited.write_bytes(edited.read_bytes() + b"# edited copy\n")
    out = subprocess.run(
        [sys.executable, "-c",
         "import gdal_drivers_spark as g; print(g.package_zip())"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    copy_zip = out.stdout.strip().splitlines()[-1]
    try:
        assert copy_zip != g.package_zip()
        with zipfile.ZipFile(copy_zip) as z:
            assert z.read("gdal_drivers_spark/engine.py") == edited.read_bytes()
    finally:
        os.unlink(copy_zip)
