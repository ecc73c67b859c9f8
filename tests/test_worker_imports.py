"""The engine must work when the calling process's cwd is NOT the repo
root.

Executor Python workers inherit the driver's cwd; before the
``registry._ensure_worker_imports`` hardening, every query that pickles
a reference to this package (pandas UDFs, UDTFs, Python data sources)
failed with ``ModuleNotFoundError`` inside tasks unless the harness
happened to run from the repo root. The addPyFile shipping makes the
package location-independent — which is also the mechanism a real
multi-node cluster needs, since the repo is not installed on worker
images there.

The test must spawn a real subprocess: the in-process test session was
launched from the repo root, so its workers inherit a good cwd and the
bug is invisible from inside it.
"""

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from oke_cassandra_spark_locality_demo_spark import registry

spark = (
    SparkSession.builder.master("local[4]")
    .appName("cwd-independence")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
# one key per pickled-by-module-reference surface (each verified to
# raise ModuleNotFoundError / PYTHON_DATA_SOURCE_ERROR from a foreign
# cwd when the addPyFile shipping is disabled): grouped-agg pandas
# UDF, mapInPandas, Python data source (batch and streaming planner)
for key in (
    "q_udf_grouped_agg", "q_multimodal_binary", "q_source_pyds_scan",
    "q_stream_pyds",
):
    n = registry.get(key).fn(spark, sf).count()
    assert n > 0, (key, n)
print("CWD_INDEPENDENT_OK")
"""


def test_queries_run_with_foreign_cwd():
    with tempfile.TemporaryDirectory() as cwd:
        proc = subprocess.run(
            [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=600,
            env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        )
    assert "CWD_INDEPENDENT_OK" in proc.stdout, (
        proc.stdout[-2000:],
        proc.stderr[-2000:],
    )
