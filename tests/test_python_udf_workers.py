"""The pandas-UDF queries run when the package is importable only in the
launching process: Python workers get neither the repo on PYTHONPATH nor
a cwd inside it, so every kernel must unpickle without importing the
package. Importing the package must not touch os.environ."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, os, sys

sys.path.insert(0, {repo!r})
before = dict(os.environ)
import construction_data_lake_et_data_warehouse_tp3_spark
from construction_data_lake_et_data_warehouse_tp3_spark.operators import python_udfs
from construction_data_lake_et_data_warehouse_tp3_spark.session import tune
env_untouched = dict(os.environ) == before

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)
tune(spark)
rows = {{
    name: len(python_udfs.QUERIES[name](spark, {sf_dir!r}).collect())
    for name in (
        "pandas_scalar_norm",
        "pandas_udaf_value_stats",
        "apply_in_pandas_group_stats",
    )
}}
spark.stop()
print(json.dumps({{"env_untouched": env_untouched, "rows": rows}}))
"""


def test_udf_queries_run_without_the_repo_on_pythonpath(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    kept = [
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    if kept:
        env["PYTHONPATH"] = os.pathsep.join(kept)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, sf_dir=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["env_untouched"]
    assert all(n > 0 for n in out["rows"].values()), out["rows"]
