"""A checkout is hermetic: its driver-contract entry module imports its
OWN package and fixtures, whatever the working directory."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
import python_fmask_spark
sqls = mod.oracle_sql()  # parses the S2 fixture XMLs through _FIXTURES
print(json.dumps({"pkg": python_fmask_spark.__file__,
                  "fixtures": mod._FIXTURES,
                  "final": sqls["fmask_final_class"]}))
"""


def test_entry_module_copy_resolves_its_own_package(tmp_path):
    copy = tmp_path / "checkout"
    shutil.copytree(os.path.join(ROOT, "python_fmask_spark"),
                    copy / "python_fmask_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(os.path.join(ROOT, "tests", "fixtures"),
                    copy / "tests" / "fixtures")
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), copy)
    neutral = tmp_path / "elsewhere"
    neutral.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(copy / "__spark_entry__.py")],
        cwd=neutral, env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    fixtures = str(copy / "tests" / "fixtures")
    assert out["pkg"] == str(copy / "python_fmask_spark" / "__init__.py")
    assert out["fixtures"] == fixtures
    assert f"'{fixtures}/shadow_oracle_final.parquet'" in out["final"]
