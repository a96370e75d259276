"""spark-submit --py-files packaging (north_rule): the pipeline must run as
a submitted job with the package shipped as a zip, from a cwd outside the
repo."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles(tmp_path):
    # build into tmp_path: the test must not rewrite the tracked dist/ zip
    zip_out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "make_pyfiles_zip.py"),
            str(tmp_path / "blink_reloaded_spark.zip"),
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_out,
            os.path.join(ROOT, "scripts", "submit_job.py"),
            "--demo",
            "--output",
            out_dir,
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # outside the repo: only the zip provides the pkg
        env=env,
        timeout=400,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "OK rows=" in r.stdout
