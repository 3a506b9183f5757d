"""spark-submit --py-files end-to-end (BASELINE north rule: "run via
spark-submit --py-files on multi-executor clusters"): package the
engine into a zip, submit a job from a clean cwd with no repo on the
python path, and prove both driver-side import and executor-side
(python worker) import resolve from the zip alone — the warmed
workers' per-worker setup included.
"""

import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
import sys
from pyspark.sql import SparkSession
import pyrate_spark
assert "pyrate_spark.zip" in pyrate_spark.__file__, pyrate_spark.__file__
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.rollup import tier_rollup
from pyrate_spark.operators.tiersink import encode_tier, decode_tier
from pyrate_spark.config import EngineConfig

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
series = extract_series(generate_pages(spark, n_urls=30,
                                       epochs_per_url=12, seed=5))
hourly = tier_rollup(series, "1 hour", thresh=0.5)
# the grouped-map sink forces executor-side python workers to import
# the kernels from the distributed zip, not from any local checkout
enc = encode_tier(hourly, "1 hour", cfg=EngineConfig())
n = decode_tier(enc).count()

# the warmed workers import their setup from the zip, and run with it
from pyrate_spark.operators.grouped import warm_python_workers
warm_python_workers(spark)

def report(batches):
    import zipimport
    import pandas as pd
    for _ in batches:
        pass
    m = sys.modules.get("pyrate_spark.operators.worker_setup")
    yield pd.DataFrame({
        "installer": [zipimport.zipimporter.invalidate_caches.__module__],
        "src": [getattr(m, "__file__", "")]})

rows = (spark.range(16, numPartitions=16)
        .mapInPandas(report, "installer string, src string").collect())
assert all("pyrate_spark.zip" in r.src for r in rows), rows
if sys.version_info < (3, 13):
    assert {r.installer for r in rows} == {
        "pyrate_spark.operators.worker_setup"}, rows
print(f"SUBMIT_OK rows={n}")
spark.stop()
"""


def test_spark_submit_pyfiles_job(tmp_path):
    zip_path = tmp_path / "pyrate_spark.zip"
    pkg = os.path.join(REPO, "pyrate_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_SUBMIT_OPTS"] = "-Dspark.ui.showConsoleProgress=false"
    out = subprocess.run(
        ["spark-submit", "--py-files", str(zip_path), str(job)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=420)
    assert out.returncode == 0, out.stderr[-3000:]
    ok = [ln for ln in out.stdout.splitlines() if ln.startswith("SUBMIT_OK")]
    assert ok, out.stdout[-2000:] + out.stderr[-2000:]
    rows = int(ok[0].split("rows=")[1])
    assert rows > 0
