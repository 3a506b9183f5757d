"""Supplementary per-component benchmarks (guide §1.4 noop isolation).

NOT the driver's bench — bench.py is frozen for measurement. This
harness decomposes the composite bench stages into their components
with noop sinks so OPTIMIZATION_r08.md can cite where each second
goes. Same data shape and session config as bench.py; one JSON line.

Usage: python bench_extra.py [component ...]
Components: derived, mergeable, anomaly, streaming_parts, inversion
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.session import get_session

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_URLS = int(os.environ.get("PYRATE_BENCH_URLS", "25000"))
EPOCHS = int(os.environ.get("PYRATE_BENCH_EPOCHS", "48"))
REPS = int(os.environ.get("PYRATE_BENCH_REPS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from scripts.run_scaling import cpu_capacity
    only = set(sys.argv[1:])

    def want(x):
        return not only or x in only

    cap = round(cpu_capacity(CPUS, rounds=2), 2)
    spark = get_session("pyrate-bench-extra", parallelism=CPUS,
                        shuffle_partitions=CPUS)
    from pyrate_spark.operators.grouped import warm_python_workers
    warm_python_workers(spark)
    timings: dict[str, float] = {}

    def timed(name, fn, reps=REPS):
        walls = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(min(walls), 3)

    pages = generate_pages(spark, n_urls=N_URLS, epochs_per_url=EPOCHS,
                           hot_urls=max(N_URLS // 1000, 1), hot_factor=20,
                           null_pct=10, seed=42)
    series = extract_series(pages).persist()
    series.count()

    if want("derived"):
        from pyrate_spark.operators.metrics import (irate,
                                                    regression_slope,
                                                    time_weighted_avg)
        timed("derived.twa",
              lambda: noop(time_weighted_avg(series, 3600,
                                             max_gap_sec=86400,
                                             value_col="value",
                                             ts_col="warc_ts")))
        timed("derived.slope",
              lambda: noop(regression_slope(series, 21600,
                                            value_col="value",
                                            ts_col="warc_ts")))
        timed("derived.irate",
              lambda: noop(irate(series, 21600, value_col="value",
                                 ts_col="warc_ts")))

    if want("mergeable"):
        from pyrate_spark.operators.rollup import (distinct_cascade,
                                                   distinct_tier,
                                                   histogram_cascade,
                                                   histogram_rollup,
                                                   ohlc_cascade,
                                                   ohlc_rollup)
        timed("mergeable.ohlc_raw",
              lambda: noop(ohlc_rollup(series, "1 hour")))
        timed("mergeable.hist_raw",
              lambda: noop(histogram_rollup(series, "1 hour", lo=-50.0,
                                            hi=50.0, n_bins=16)))
        timed("mergeable.hll_raw",
              lambda: noop(distinct_tier(series, "1 hour")))
        oh = ohlc_rollup(series, "1 hour").persist()
        oh.count()
        timed("mergeable.ohlc_cascade",
              lambda: noop(ohlc_cascade(oh, "1 day")))
        oh.unpersist()
        hh = histogram_rollup(series, "1 hour", lo=-50.0, hi=50.0,
                              n_bins=16).persist()
        hh.count()
        timed("mergeable.hist_cascade",
              lambda: noop(histogram_cascade(hh, "1 day", n_bins=16)))
        hh.unpersist()
        dh = distinct_tier(series, "1 hour").persist()
        dh.count()
        timed("mergeable.hll_cascade",
              lambda: noop(distinct_cascade(dh, "1 day")))
        dh.unpersist()

    if want("anomaly"):
        from pyrate_spark.operators.anomaly import (anomaly_zscore,
                                                    cusum_changepoint,
                                                    holt_forecast)
        from pyrate_spark.operators.rollup import tier_rollup
        ht = (tier_rollup(series, "1 hour", thresh=0.5)
              .where(F.col("value_avg").isNotNull())
              .select("url", "bucket_start", "value_avg").persist())
        ht.count()
        timed("anomaly.zscore",
              lambda: noop(anomaly_zscore(ht, window=24, nsig=2.0)))
        timed("anomaly.cusum",
              lambda: noop(cusum_changepoint(ht, k=0.5, h=4.0)))
        timed("anomaly.holt",
              lambda: noop(holt_forecast(ht, alpha=0.5, beta=0.3)))
        ht.unpersist()

    if want("inversion"):
        from pyrate_spark.operators.grouped import (detect_hot_keys,
                                                    linear_rate_from_pairs)
        from pyrate_spark.operators.pairs import network_pairs
        cfg = EngineConfig(ts_method=2, ts_pthr=0, velerror_nsig=1)
        pairs = network_pairs(series, max_span_days=3,
                              max_pairs_per_epoch=2).persist()
        pairs.count()
        hot = detect_hot_keys(pairs)
        timings["inversion.n_hot"] = len(hot)
        timed("inversion.fused",
              lambda: linear_rate_from_pairs(pairs, cfg, use_mst=False,
                                             hot_keys=hot).count())
        timed("inversion.fused_mst",
              lambda: linear_rate_from_pairs(pairs, cfg, use_mst=True,
                                             hot_keys=hot).count())
        pairs.unpersist()

    series.unpersist()
    print(json.dumps({"metric": "bench_extra", "unit": "sec",
                      "cpu_capacity": cap, "cpus": CPUS,
                      "components": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
