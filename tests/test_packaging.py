"""spark-submit --py-files packaging smoke (north_rule: 'packaged for
spark-submit --py-files').  Builds dist/engine.zip, then runs the real
job via spark-submit from a NEUTRAL working directory so every engine
import must come from the zip, not the repo checkout."""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job(tmp_path):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py")],
        capture_output=True, text=True, check=True, cwd=REPO,
    ).stdout.strip()
    assert zip_path.endswith("engine.zip") and os.path.exists(zip_path)

    # driver script shipped standalone; imports resolve from the zip
    runner = tmp_path / "run_job.py"
    runner.write_text(
        "from document_extraction_service_spark.job import main\n"
        "main()\n"
    )
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    env = {k: v for k, v in os.environ.items()}
    env.pop("PYTHONPATH", None)
    env["SPARK_DRIVER_MEM"] = "4g"
    r = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", zip_path, str(runner),
         "--input", "synthetic:60", "--output", out,
         "--lineage", lin, "--run-id", "pkg", "--n-buckets", "8"],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "'n_ok': 60" in r.stdout, r.stdout[-1500:]


def test_one_helper_per_pattern():
    """The two-stage top-k lives only in operators.tables.top_k, and
    no module wraps tables.read_table in a private `_t` shim."""
    pkg = os.path.join(REPO, "document_extraction_service_spark")
    partition_id_users, shims = [], []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if "spark_partition_id" in src:
                partition_id_users.append(rel)
            if "def _t(" in src:
                shims.append(rel)
    assert partition_id_users == [os.path.join("operators", "tables.py")]
    assert shims == []
