"""Session factory: Python workers run wherever the driver starts."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_start_outside_the_repo(tmp_path):
    """A driver that finds lacspark through ``sys.path`` alone, run
    from a directory that does not hold the package, must still get
    working Python workers: their daemon module is
    ``lacspark.spark.py_daemon``."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from lacspark.spark.session import get_spark
spark = get_spark(app_name="daemon-cwd", cores=1, shuffle_partitions=1,
                  extra_conf={{"spark.ui.enabled": "false"}})
df = spark.range(4).mapInPandas(lambda it: (p * 2 for p in it), "id long")
print(sorted(r.id for r in df.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["LACSPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6]"
