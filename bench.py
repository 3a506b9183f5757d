"""Headline benchmark: one JSON line for the driver.

Runs the engine's headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- pages_rollup_cascade: 1M-row synthetic pages table (generated
  in-process by spark.range — generation is part of the measured work
  and itself scales) -> raw->hour->day->week tier cascade.
- pages_inversion: pair network + per-url SVD time-series inversion +
  linear rate over the same pages table (the grouped-map kernel path).
- events_stack: sequential pairs + iterative WLS stacking on the driver
  events table.
- dedup_minhash: MinHash/LSH near-dup pairs over documents.
- knn_bruteforce: exact cosine top-k over embeddings.
- pricing_summary: relational anchor over lineitem.

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf", plus rows/sec context fields}.
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
from pyrate_spark.operators.dedup import minhash_lsh_pairs
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import (linear_rate_per_url,
                                            stack_rate_per_url,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import network_pairs, sequential_pairs
from pyrate_spark.operators.rollup import cascade_rollup, tier_rollup
from pyrate_spark.operators.similarity import cosine_topk
from pyrate_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_URLS = int(os.environ.get("PYRATE_BENCH_URLS", "25000"))
EPOCHS = int(os.environ.get("PYRATE_BENCH_EPOCHS", "48"))
# MIN-of-REPS per stage (r7, uniform with run_scaling.py's discipline):
# cold-run/GC/page-cache variance on this shared box is +-3x, so a
# single-shot number is untrustworthy (the round-1 bench read 20x
# slower than the same stage's steady-state, and the r6 committed
# streaming_maintenance stamped a 3.5x co-tenant spike into the
# artifact because that one stage ran reps=1). The minimum is the
# least-contended estimate of what the CODE costs; box-state context
# ships alongside as cpu_capacity.
REPS = int(os.environ.get("PYRATE_BENCH_REPS", "3"))
# comma-separated subset of query names to run (empty = all);
# used by scripts/run_scaling.py to time only the scalable core
ONLY = {s for s in os.environ.get("PYRATE_BENCH_ONLY", "").split(",") if s}


def _want(name: str) -> bool:
    return not ONLY or name in ONLY


def main():
    # capacity stamp BEFORE the JVM starts: effective parallel compute
    # of this box right now, in single-core units (the same probe
    # run_scaling.py gates on). Lets a reader separate engine
    # regressions from box degradation — this shared microVM has
    # drifted between ~31 and ~13 effective cores across rounds, a
    # ±2.4x swing on identical code.
    from scripts.run_scaling import cpu_capacity
    cap = round(cpu_capacity(CPUS, rounds=2), 2)

    spark = get_session("pyrate-bench", parallelism=CPUS,
                        shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    meta: dict[str, float] = {"cpu_capacity": cap,
                              "cpu_capacity_frac": round(cap / CPUS, 3)}

    # steady-state measurement: spin up the python worker pool first
    # (long-lived executors on a real cluster amortise this)
    from pyrate_spark.operators.grouped import warm_python_workers
    t0 = time.perf_counter()
    warm_python_workers(spark)
    meta["worker_warmup_sec"] = round(time.perf_counter() - t0, 3)

    def timed(name, fn, reps=REPS):
        walls, out = [], None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        timings[name] = round(min(walls), 3)
        return out

    # ---- pages tier cascade (the headline rollup) ----
    pages = generate_pages(spark, n_urls=N_URLS, epochs_per_url=EPOCHS,
                           hot_urls=max(N_URLS // 1000, 1), hot_factor=20,
                           null_pct=10, seed=42)
    series = extract_series(pages).persist()
    # one-shot: materialisation fills the persist cache; repeats would
    # just read it back
    n_rows = timed("pages_materialize", lambda: series.count(), reps=1)
    meta["pages_rows"] = n_rows

    def rollup_cascade():
        # per-tier split (BASELINE metric: "rows/sec per tier"):
        # each tier reads the one above, so its rows/sec denominator
        # is its own input row count
        t0 = time.perf_counter()
        h = tier_rollup(series, "1 hour", thresh=0.5).persist()
        hc = h.count()
        t1 = time.perf_counter()
        d = cascade_rollup(h, "1 day").persist()
        dc = d.count()
        t2 = time.perf_counter()
        w = cascade_rollup(d, "1 week")
        wc = w.count()
        t3 = time.perf_counter()
        meta["tier_buckets"] = hc + dc + wc
        meta["tier_rows_per_sec"] = {
            "hourly_from_raw": round(n_rows / max(t1 - t0, 1e-9)),
            "daily_from_hourly": round(hc / max(t2 - t1, 1e-9)),
            "weekly_from_daily": round(dc / max(t3 - t2, 1e-9))}
        h.unpersist()
        d.unpersist()
        return wc

    timed("pages_rollup_cascade", rollup_cascade)
    meta["rollup_rows_per_sec"] = round(
        n_rows / max(timings["pages_rollup_cascade"], 1e-9))

    # ---- Gorilla tier encode (the tier sink's codec, distributed) ----
    if _want("gorilla_tier_encode"):
        from pyrate_spark.operators.tiersink import encode_tier
        hourly = tier_rollup(series, "1 hour", thresh=0.5).persist()
        n_buckets = hourly.count()          # fill cache, untimed

        def enc():
            e = encode_tier(hourly, "1 hour",
                            cfg=EngineConfig())
            return e.agg(F.sum("n_points").alias("p"),
                         F.sum("bytes_encoded").alias("b")).first()

        r = timed("gorilla_tier_encode", enc)
        meta["gorilla_points_per_sec"] = round(
            n_buckets / max(timings["gorilla_tier_encode"], 1e-9))
        meta["gorilla_bytes_per_point"] = round(r["b"] / max(r["p"], 1), 2)

        hourly.unpersist()

    # tier read-back: lane-parallel batch decode (new r4 stage; own
    # _want gate so PYRATE_BENCH_ONLY=gorilla_tier_decode works alone)
    if _want("gorilla_tier_decode"):
        from pyrate_spark.operators.tiersink import decode_tier, encode_tier
        hourly2 = tier_rollup(series, "1 hour", thresh=0.5)
        enc_df = encode_tier(
            hourly2, "1 hour",
            cfg=EngineConfig()).persist()
        enc_df.count()                      # fill cache, untimed
        n_pts = int(enc_df.agg(F.sum("n_points")).first()[0])
        timed("gorilla_tier_decode",
              lambda: decode_tier(enc_df).count())
        meta["gorilla_decode_points_per_sec"] = round(
            n_pts / max(timings["gorilla_tier_decode"], 1e-9))
        enc_df.unpersist()

    # ---- per-url inversion + linear rate (grouped-map kernels) ----
    cfg = EngineConfig(ts_method=2, ts_pthr=0, velerror_nsig=1)
    pairs = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
    meta["pair_rows"] = pairs.count()          # fill the cache, untimed
    # time the pair-window compute itself (not the cached read-back)
    timed("pages_pair_network",
          lambda: network_pairs(series, max_span_days=3,
                                max_pairs_per_epoch=2).count())

    # hot-key detection ONCE per pipeline, threaded through the grouped
    # stages (keyed_apply's hot_keys contract; r5 — previously every timed
    # rep re-ran the counting aggregation over the persisted pairs)
    from pyrate_spark.operators.grouped import detect_hot_keys
    hot, hot_walls = None, []
    for _ in range(2):                  # min-of-2 (r7: was one-shot)
        t0 = time.perf_counter()
        hot = detect_hot_keys(pairs)
        hot_walls.append(time.perf_counter() - t0)
    meta["hot_key_detect_sec"] = round(min(hot_walls), 3)
    meta["hot_keys"] = len(hot)

    def inversion():
        # fused pairs->rates (one grouped-map stage; bit-exact vs the
        # two-stage chain — tests/test_fused_rates.py)
        from pyrate_spark.operators.grouped import linear_rate_from_pairs
        lr = linear_rate_from_pairs(pairs, cfg, use_mst=False,
                                    hot_keys=hot)
        return lr.count()

    meta["inverted_urls"] = timed("pages_inversion", inversion)
    meta["inversion_rows_per_sec"] = round(
        meta["pair_rows"] / max(timings["pages_inversion"], 1e-9))

    # ---- MST-on inversion (r5, VERDICT r4 item 9): same fused
    # operator with per-key MST observation selection, so the Kruskal
    # cost is on the record before anyone flips the default ----
    if _want("inversion_mst"):
        from pyrate_spark.operators.grouped import linear_rate_from_pairs
        timed("inversion_mst",
              lambda: linear_rate_from_pairs(pairs, cfg, use_mst=True,
                                             hot_keys=hot).count(),
              reps=max(2, REPS - 1))
        meta["inversion_mst_rows_per_sec"] = round(
            meta["pair_rows"] / max(timings["inversion_mst"], 1e-9))

    pairs.unpersist()

    # ---- streaming maintenance (r5, VERDICT r4 item 6): one
    # availableNow incremental pass over a freshly-appended delta
    # (time-split at the 90th percentile of warc_ts — the realistic
    # "new crawl lands" shape) plus a compact_day_store sweep of a
    # streaming-fragmented day store ----
    if _want("streaming_maintenance"):
        # r7 (VERDICT r6 "what's wrong" #1): the stage is split into
        # its two jobs — the availableNow incremental pass and the
        # compaction sweep — each timed separately, and the whole
        # sequence repeats with FRESH checkpoint/store state per rep
        # so min-of-reps applies here like everywhere else (the r6
        # committed number was one reps=1 window that caught a 3.5x
        # co-tenant spike).
        import shutil
        import tempfile
        from pyrate_spark.plans.backfill import write_raw_store
        from pyrate_spark.plans.retention import compact_day_store
        from pyrate_spark.streaming.tiers import streaming_series_rollup
        slim = series.select("url", "warc_ts", "value")
        cut = slim.agg(
            F.expr("percentile_approx(warc_ts, 0.9)")).first()[0]
        initial = slim.where(F.col("warc_ts") < F.lit(cut)).persist()
        delta = slim.where(F.col("warc_ts") >= F.lit(cut)).persist()
        n_delta = delta.count()
        initial.count()

        def one_pass(src, out, ck):
            stream = (spark.readStream
                      .schema("url string, warc_ts timestamp, "
                              "value double")
                      .parquet(src))
            q = (streaming_series_rollup(stream, "1 hour", 0.5,
                                         "2 hours")
                 .writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ck)
                 .outputMode("append").trigger(availableNow=True)
                 .start())
            q.awaitTermination()

        walls_a, walls_c = [], []
        res = None
        for rep in range(max(2, REPS - 1)):
            base = tempfile.mkdtemp(prefix=f"pyrate_bench_stream{rep}_")
            src, out, ck = f"{base}/src", f"{base}/tier", f"{base}/ck"
            store = f"{base}/store"
            initial.write.mode("overwrite").parquet(src)
            one_pass(src, out, ck)      # initial load, untimed
            delta.write.mode("append").parquet(src)
            write_raw_store(initial, store)
            for i in range(6):          # streaming-append fragmentation
                write_raw_store(
                    delta.where(F.pmod(F.xxhash64("url"),
                                       F.lit(6)) == i),
                    store, mode="append")
            t0 = time.perf_counter()
            one_pass(src, out, ck)      # incremental: delta only
            t1 = time.perf_counter()
            res = compact_day_store(spark, store, max_files_per_day=4,
                                    min_age_days=None)
            t2 = time.perf_counter()
            walls_a.append(t1 - t0)
            walls_c.append(t2 - t1)
            shutil.rmtree(base, ignore_errors=True)
        timings["streaming_availablenow"] = round(min(walls_a), 3)
        timings["compaction_sweep"] = round(min(walls_c), 3)
        meta["streaming_maintenance_sec"] = round(
            min(walls_a) + min(walls_c), 3)   # r6-comparable composite
        meta["streaming_delta_rows"] = n_delta
        meta["streaming_delta_rows_per_sec"] = round(
            n_delta / max(timings["streaming_availablenow"], 1e-9))
        meta["compacted_days"] = len(res["compacted"])
        initial.unpersist()
        delta.unpersist()

    # ---- as-of enrichment (r5): every raw point matched to the most
    # recent OBSERVED hourly bucket — the new asof_join operator at
    # sf0.1 shape (one shuffle + one ordered window) ----
    if _want("asof_enrich"):
        from pyrate_spark.operators.asof import asof_join
        hourly3 = (tier_rollup(series, "1 hour", thresh=0.5)
                   .where(F.col("value_avg").isNotNull())
                   .select("url", "bucket_start",
                           F.col("value_avg").alias("asof_avg"))
                   .persist())
        hourly3.count()                     # fill cache, untimed
        timed("asof_enrich",
              lambda: asof_join(series, hourly3,
                                tolerance_sec=7200).count())
        meta["asof_rows_per_sec"] = round(
            n_rows / max(timings["asof_enrich"], 1e-9))
        hourly3.unpersist()

    # ---- anomaly family: three exact-fold passes over the hourly
    # tier (z-score window, CUSUM, Holt) timed as one suite ----
    if _want("anomaly_suite"):
        from pyrate_spark.operators.anomaly import (anomaly_zscore,
                                                    cusum_changepoint,
                                                    holt_forecast)
        ht = (tier_rollup(series, "1 hour", thresh=0.5)
              .where(F.col("value_avg").isNotNull())
              .select("url", "bucket_start", "value_avg").persist())
        n_ht = ht.count()                   # fill cache, untimed
        timed("anomaly_suite",
              lambda: (anomaly_zscore(ht, window=24, nsig=2.0).count()
                       + cusum_changepoint(ht, k=0.5, h=4.0).count()
                       + holt_forecast(ht, alpha=0.5, beta=0.3).count()))
        meta["anomaly_rows_per_sec"] = round(
            3 * n_ht / max(timings["anomaly_suite"], 1e-9))
        ht.unpersist()

    # ---- PromQL/TimescaleDB derived metrics (new r6 stage) ----
    if _want("derived_metrics"):
        from pyrate_spark.operators.metrics import (irate,
                                                    regression_slope,
                                                    time_weighted_avg)
        n_raw = series.count()
        timed("derived_metrics",
              lambda: (time_weighted_avg(series, 3600,
                                         max_gap_sec=86400,
                                         value_col="value",
                                         ts_col="warc_ts").count()
                       + regression_slope(series, 21600,
                                          value_col="value",
                                          ts_col="warc_ts").count()
                       + irate(series, 21600, value_col="value",
                               ts_col="warc_ts").count()))
        meta["derived_metrics_rows_per_sec"] = round(
            3 * n_raw / max(timings["derived_metrics"], 1e-9))

    # ---- lossy downsamples: LTTB + swinging-door (new r6 stage) ----
    if _want("downsample_suite"):
        from pyrate_spark.operators.downsample import (lttb_downsample,
                                                       swinging_door)
        n_raw = series.count()
        timed("downsample_suite",
              lambda: (lttb_downsample(series, 50).count()
                       + swinging_door(series, 2.0).count()))
        meta["downsample_rows_per_sec"] = round(
            2 * n_raw / max(timings["downsample_suite"], 1e-9))

    # ---- mergeable distribution aggregates (new r7 stage) ----
    if _want("mergeable_aggs"):
        from pyrate_spark.operators.rollup import (distinct_cascade,
                                                   distinct_tier,
                                                   histogram_cascade,
                                                   histogram_rollup,
                                                   ohlc_cascade,
                                                   ohlc_rollup)
        n_raw = meta["pages_rows"]

        def mergeable():
            oh = ohlc_rollup(series, "1 hour").persist()
            n = oh.count() + ohlc_cascade(oh, "1 day").count()
            oh.unpersist()
            hh = histogram_rollup(series, "1 hour",
                                  lo=-50.0, hi=50.0, n_bins=16).persist()
            n += hh.count() + histogram_cascade(hh, "1 day",
                                                n_bins=16).count()
            hh.unpersist()
            dh = distinct_tier(series, "1 hour").persist()
            n += dh.count() + distinct_cascade(dh, "1 day").count()
            dh.unpersist()
            return n

        timed("mergeable_aggs", mergeable)
        # three raw scans (OHLC + histogram + HLL); cascades read tiers
        meta["mergeable_rows_per_sec"] = round(
            3 * n_raw / max(timings["mergeable_aggs"], 1e-9))

    # ---- cross-series lead-lag correlation (new r7 stage) ----
    if _want("correlation"):
        from pyrate_spark.operators.correlate import best_lag, corr_pairs
        hourly = tier_rollup(series, "1 hour", thresh=0.5).persist()
        n_buckets = hourly.count()          # fill cache, untimed
        timed("correlation",
              lambda: best_lag(corr_pairs(hourly, bucket_sec=3600,
                                          top_keys=64, min_overlap=12,
                                          lags=(-2, -1, 0, 1, 2)))
              .count())
        hourly.unpersist()
        meta["correlation_buckets_per_sec"] = round(
            n_buckets / max(timings["correlation"], 1e-9))

    series.unpersist()

    # ---- driver tables ----
    if _want("events_stack"):
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
            F.col("user_id").cast("string").alias("url"),
            F.date_trunc("second", "ts").alias("warc_ts"),
            F.col("value"))
        scfg = EngineConfig(nsig=3, pthr=3, velerror_nsig=1)
        # hot keys once (as for pages_inversion): otherwise every rep
        # re-executes the un-persisted pair DAG a second time just for
        # the detection count
        ev_pairs = sequential_pairs(ev).persist()
        ev_hot = detect_hot_keys(ev_pairs)
        ev_pairs.unpersist()
        timed("events_stack",
              lambda: stack_rate_per_url(sequential_pairs(ev), scfg,
                                         use_mst=False,
                                         hot_keys=ev_hot).count())

    if _want("dedup_minhash"):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        timed("dedup_minhash",
              lambda: minhash_lsh_pairs(docs, threshold=0.5).count())

    if _want("knn_bruteforce"):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", F.transform(
                "embedding", lambda x: x.cast("double")).alias("embedding"),
            "label")
        timed("knn_bruteforce",
              lambda: cosine_topk(emb, list(range(10)), k=5).count())

    if _want("pricing_summary"):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        timed("pricing_summary", lambda: (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
                 F.count(F.lit(1))).count()))

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        **meta,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
