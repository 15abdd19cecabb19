"""Python workers import the package from any working directory:
``get_spark`` puts the package's parent on the executor PYTHONPATH, so a
Spark driver that found the package through ``sys.path`` alone still runs
mapInPandas queries."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE

_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from c_tran_data_pipeline_spark.plans.registry import all_queries
from c_tran_data_pipeline_spark.session import get_spark
spark = get_spark("pythonpath-probe")
print("ROWS", all_queries()["q_image_ahash_neardup"].builder(spark, sys.argv[2]).count())
"""


def test_workers_import_package_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(REPO), SF_SMOKE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [line for line in out.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout[-2000:]
