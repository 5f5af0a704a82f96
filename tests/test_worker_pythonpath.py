"""Python workers import the package from any working directory:
``build_spark`` puts the package's parent directory on the workers'
``PYTHONPATH``, so a session started outside the repository root runs
Python UDFs that import the package."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})  # the driver's import only
from datanika_core_spark.session import build_spark

spark = build_spark(
    app_name="worker-pythonpath", master="local[1]", warehouse_dir={wh!r}
)
try:
    names = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("datanika_core_spark").__name__)
        .collect()
    )
    print("IMPORTED", names[0])
finally:
    spark.stop()
"""


def test_workers_import_the_package_outside_the_repo_root(tmp_path):
    env = dict(os.environ)
    kept = [
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != REPO
    ]
    env["PYTHONPATH"] = os.pathsep.join(kept)
    script = tmp_path / "probe.py"
    script.write_text(
        _SCRIPT.format(repo=str(REPO), wh=str(tmp_path / "warehouse"))
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "IMPORTED datanika_core_spark" in out.stdout, out.stderr[-3000:]
