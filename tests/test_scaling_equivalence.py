"""Cross-parallelism output equivalence — the reference's
serial == joblib == MPI invariance
(tests/test_mpi_vs_multiprocess_vs_single_process.py:89-120) recast:
the identical job at local[2] and local[8] must produce identical
results. Runs each level in a subprocess (one SparkContext per JVM)
and compares the parquet outputs exactly."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import sys
from pyrate_spark.session import get_session
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.pairs import network_pairs
from pyrate_spark.operators.grouped import (timeseries_per_url,
                                            stack_rate_per_url)
from pyrate_spark.operators.rollup import tier_rollup
from pyrate_spark.config import EngineConfig

cpus, out = int(sys.argv[1]), sys.argv[2]
spark = get_session("eq", parallelism=cpus, shuffle_partitions=cpus)
series = extract_series(generate_pages(
    spark, n_urls=80, epochs_per_url=24, null_pct=15, seed=11)).persist()
pairs = network_pairs(series, 4, 3).persist()
cfg = EngineConfig(ts_method=2, ts_pthr=0, velerror_nsig=1)
tier_rollup(series, "1 hour", 0.5).write.parquet(out + "/rollup")
timeseries_per_url(pairs, cfg, use_mst=True).write.parquet(out + "/ts")
stack_rate_per_url(pairs, cfg, use_mst=True).write.parquet(out + "/stack")
from pyrate_spark.operators.downsample import lttb_downsample
lttb_downsample(series, 9).write.parquet(out + "/lttb")
spark.stop()
"""


@pytest.mark.slow
def test_local2_equals_local8(tmp_path):
    outs = {}
    for cpus in (2, 8):
        out = str(tmp_path / f"c{cpus}")
        env = dict(os.environ,
                   PYTHONPATH=REPO,
                   SPARK_SUBMIT_OPTS="-Dspark.ui.showConsoleProgress=false")
        r = subprocess.run([sys.executable, "-c", JOB, str(cpus), out],
                           env=env, capture_output=True, text=True,
                           timeout=1200, cwd=REPO)
        assert r.returncode == 0, r.stderr[-3000:]
        outs[cpus] = out

    import duckdb
    for product, keys in (("rollup", "url, bucket_start"),
                          ("ts", "url, epoch_id"),
                          ("stack", "url"),
                          ("lttb", "url, t")):
        a = duckdb.sql(
            f"SELECT * FROM read_parquet('{outs[2]}/{product}/*.parquet') "
            f"ORDER BY {keys}").df()
        b = duckdb.sql(
            f"SELECT * FROM read_parquet('{outs[8]}/{product}/*.parquet') "
            f"ORDER BY {keys}").df()
        a = a.reindex(sorted(a.columns), axis=1)
        b = b.reindex(sorted(b.columns), axis=1)
        pd.testing.assert_frame_equal(a, b, check_exact=True), product
