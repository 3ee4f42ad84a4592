"""A fresh ``get_spark`` session's defaults, read from a clean subprocess
(the test session pins its own width, so it cannot show them).

Bronze re-runs are idempotent only under dynamic partition overwrite, and
the lake's codec and timestamps follow the session, so these values are
part of the engine's contract. ``extra_conf`` is the one way to change
them: the environment variables set below are not read.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from flights_etl_pipeline_spark.session import get_spark
keys = ("spark.sql.shuffle.partitions", "spark.driver.memory",
        "spark.sql.session.timeZone",
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.parquet.compression.codec", "spark.sql.adaptive.enabled")
spark = get_spark(master="local[2]")
print("FRESH", json.dumps({{k: spark.conf.get(k) for k in keys}}))
spark = get_spark(extra_conf={{"spark.sql.shuffle.partitions": "3"}})
print("PINNED", spark.conf.get("spark.sql.shuffle.partitions"))
"""


def test_fresh_session_defaults_and_extra_conf_override(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SHUFFLE="4", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines()
               if line.startswith(("FRESH ", "PINNED ")))
    assert json.loads(out["FRESH"]) == {
        "spark.sql.shuffle.partitions": "32",
        "spark.driver.memory": "8g",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.adaptive.enabled": "true",
    }
    assert out["PINNED"] == "3"
