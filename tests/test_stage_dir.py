"""`stage_dir` trees do not outlive their process: each process stages
under its own `<tmpdir>/gwasdb_spark_stage_<pid>`, removed at exit."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGE_A_WRITE = """
import os
import pyarrow as pa
import pyarrow.parquet as pq
from gwasdb_spark.plans.helpers import stage_dir

out = stage_dir("round_trip")
os.makedirs(out)
pq.write_table(pa.table({"x": [1, 2]}), os.path.join(out, "part-0.parquet"))
assert pq.read_table(out).num_rows == 2
print(os.path.dirname(out))
"""


def test_stage_tree_is_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", STAGE_A_WRITE],
        env=env, capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("gwasdb_spark_stage_")
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
