"""Streaming tier maintenance: correctness vs the batch rollup, late
data within the watermark, resume-from-checkpoint across runs."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from pyrate_spark.operators.rollup import tier_rollup
from pyrate_spark.streaming.tiers import (read_pages_stream,
                                          run_tier_maintenance)

BASE = dt.datetime(2024, 1, 1)


def _pages_rows(spec):
    """spec: list of (url, hour_offset_float, value)."""
    rows = []
    for url, h, v in spec:
        ts = BASE + dt.timedelta(hours=h)
        text = f"v={v:.6f} body"
        rows.append((url, ts, bytearray(b"<html>"), text, "en"))
    return rows


PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def test_streaming_matches_batch_and_handles_late_data(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = _pages_rows([
        ("a", 0.1, 1.0), ("a", 0.5, 3.0),       # hour 0
        ("a", 1.2, 5.0),                          # hour 1
        ("b", 0.3, 10.0),
    ])
    spark.createDataFrame(batch1, PAGES_DDL).write.mode("append").parquet(src)
    q = run_tier_maintenance(read_pages_stream(spark, src), out, ckpt,
                             tier="1 hour", watermark="2 hours")
    q.awaitTermination(120)

    # batch 2: a LATE row for hour 0 (within the 2h watermark: max seen
    # event time is 1.2h, watermark = -0.8h < 0h) + new rows far ahead
    # that push the watermark past hours 0-1 so those buckets finalise
    batch2 = _pages_rows([
        ("a", 0.8, 7.0),                          # late, hour 0
        ("a", 9.0, 2.0), ("b", 9.5, 4.0),        # advance watermark to 7h
    ])
    spark.createDataFrame(batch2, PAGES_DDL).write.mode("append").parquet(src)
    q = run_tier_maintenance(read_pages_stream(spark, src), out, ckpt,
                             tier="1 hour", watermark="2 hours")
    q.awaitTermination(120)

    got = (spark.read.parquet(out)
           .orderBy("url", "bucket_start").toPandas())
    # hour-0 bucket of url a must include the late row: avg(1,3,7)
    a0 = got[(got.url == "a")
             & (got.bucket_start == BASE)].iloc[0]
    assert a0["n_obs"] == 3
    assert a0["value_avg"] == pytest.approx(11.0 / 3)

    # equivalence with the batch rollup on the same finalised window
    all_pages = spark.read.parquet(src)
    from pyrate_spark.operators.extract import extract_series
    batch = tier_rollup(extract_series(all_pages), "1 hour", 0.5)
    bdf = (batch.where(F.col("bucket_start") < F.lit(BASE + dt.timedelta(hours=7)))
           .orderBy("url", "bucket_start").toPandas())
    gdf = (got[got.bucket_start < BASE + dt.timedelta(hours=7)]
           .reset_index(drop=True))
    assert len(bdf) == len(gdf)
    for col in ("url", "n_obs"):
        assert (bdf[col].to_numpy() == gdf[col].to_numpy()).all()
    import numpy as np
    np.testing.assert_allclose(bdf["value_avg"].astype(float),
                               gdf["value_avg"].astype(float))


TIER_DDL = "url string, bucket_start timestamp, value_avg double"


def _tier_rows(spec):
    return [(u, BASE + dt.timedelta(hours=h),
             float(v) if v is not None else None) for u, h, v in spec]


def test_streaming_gapfill_matches_batch(spark, tmp_path):
    """Stateful LOCF across micro-batches == batch gapfill_tier on the
    same (in-order) data."""
    from pyrate_spark.operators.rollup import gapfill_tier
    from pyrate_spark.streaming.gapfill import streaming_gapfill_locf

    src = str(tmp_path / "gsrc")
    out = str(tmp_path / "gout")
    ckpt = str(tmp_path / "gckpt")

    batch1 = _tier_rows([
        ("a", 0, 1.0), ("a", 1, None), ("a", 4, 5.0),   # holes 2,3
        ("b", 0, 10.0),
    ])
    batch2 = _tier_rows([
        ("a", 7, 9.0),                                   # holes 5,6 span
        ("b", 2, 20.0),                                  # hole 1
    ])

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_gapfill_locf(stream, 3600)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(batch1)
    run(batch2)

    got = (spark.read.parquet(out)
           .orderBy("url", "bucket_start")
           .select("url", "bucket_start", "value_filled").toPandas())
    want = (gapfill_tier(
        spark.createDataFrame(batch1 + batch2, TIER_DDL), "1 hour",
        method="locf")
        .orderBy("url", "bucket_start")
        .select("url", "bucket_start", "value_filled").toPandas())
    assert len(got) == len(want)
    assert got["url"].tolist() == want["url"].tolist()
    assert got["bucket_start"].tolist() == want["bucket_start"].tolist()
    import numpy as np
    g = got["value_filled"].to_numpy(dtype=float)
    w = want["value_filled"].to_numpy(dtype=float)
    assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()


def test_streaming_gapfill_drops_behind_frontier(spark, tmp_path):
    """A bucket older than the state frontier is dropped, not
    re-emitted (the stateful watermark analog)."""
    from pyrate_spark.streaming.gapfill import streaming_gapfill_locf

    src = str(tmp_path / "fsrc")
    out = str(tmp_path / "fout")
    ckpt = str(tmp_path / "fckpt")

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_gapfill_locf(stream, 3600)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(_tier_rows([("a", 3, 4.0)]))
    run(_tier_rows([("a", 1, 99.0), ("a", 5, 6.0)]))    # hour 1 is late
    got = (spark.read.parquet(out).orderBy("bucket_start").toPandas())
    hours = [(t - BASE).total_seconds() / 3600
             for t in got["bucket_start"]]
    assert hours == [3.0, 4.0, 5.0]                      # no hour-1 row
    assert got["value_filled"].tolist() == [4.0, 4.0, 6.0]


def test_streaming_cumsum_matches_batch(spark, tmp_path):
    from pyrate_spark.operators.rollup import cumulative
    from pyrate_spark.streaming.corrections import streaming_cumsum
    import numpy as np

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    b1 = _tier_rows([("a", 0, None), ("a", 1, 2.0), ("b", 0, 1.0)])
    b2 = _tier_rows([("a", 2, 3.0), ("b", 1, None), ("b", 2, 4.0)])

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_cumsum(stream)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(b1)
    run(b2)
    got = (spark.read.parquet(out).orderBy("url", "bucket_start")
           .select("url", "bucket_start", "value_cuml").toPandas())
    want = (cumulative(spark.createDataFrame(b1 + b2, TIER_DDL))
            .orderBy("url", "bucket_start")
            .select("url", "bucket_start", "value_cuml").toPandas())
    g = got["value_cuml"].to_numpy(dtype=float)
    w = want["value_cuml"].to_numpy(dtype=float)
    assert got["url"].tolist() == want["url"].tolist()
    assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()


def test_streaming_cusum_matches_batch_target(spark, tmp_path):
    """Stateful CUSUM with a fixed (mean, sigma) reference carried
    across TWO availableNow passes == the batch operator in target
    mode on the concatenated data, bit-for-bit."""
    from pyrate_spark.operators.anomaly import cusum_changepoint
    from pyrate_spark.streaming.corrections import streaming_cusum
    import numpy as np

    src = str(tmp_path / "cpsrc")
    out = str(tmp_path / "cpout")
    ckpt = str(tmp_path / "cpckpt")
    # url a drifts up mid-stream (split across the two passes), b calm
    b1 = _tier_rows([("a", k, 10.0 + 0.1 * (k % 3)) for k in range(6)]
                    + [("b", k, 10.0 + 0.05 * k) for k in range(4)])
    b2 = _tier_rows([("a", 6 + k, 14.0 + 0.1 * (k % 3))
                     for k in range(6)]
                    + [("b", 4 + k, 10.2) for k in range(3)])

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_cusum(stream, mean=10.0, sigma=1.0, k=0.5, h=4.0)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(b1)
    run(b2)
    cols = ["url", "bucket_start", "cusum_hi", "cusum_lo", "is_change"]
    got = (spark.read.parquet(out).orderBy("url", "bucket_start")
           .select(*cols).toPandas())
    want = (cusum_changepoint(spark.createDataFrame(b1 + b2, TIER_DDL),
                              k=0.5, h=4.0, target=(10.0, 1.0))
            .orderBy("url", "bucket_start").select(*cols).toPandas())
    assert got["url"].tolist() == want["url"].tolist()
    for c in ("cusum_hi", "cusum_lo"):
        assert (got[c].to_numpy(dtype=float)
                == want[c].to_numpy(dtype=float)).all()
    assert got["is_change"].tolist() == want["is_change"].tolist()
    assert bool(got["is_change"].any())  # the drift actually fires


def test_streaming_zscore_matches_batch(spark, tmp_path):
    """Trailing-window z-score with per-url history state carried
    across TWO availableNow passes == the batch operator on the
    concatenated data, bit-for-bit (same left-fold order)."""
    from pyrate_spark.operators.anomaly import anomaly_zscore
    from pyrate_spark.streaming.corrections import streaming_zscore

    src = str(tmp_path / "zsrc")
    out = str(tmp_path / "zout")
    ckpt = str(tmp_path / "zckpt")
    # url a: calm then a spike in pass 2 whose history straddles the
    # split; url b has a null (dropped like the batch filter) + spike
    b1 = _tier_rows([("a", k, 10.0 + 0.3 * ((k * 7) % 5))
                     for k in range(8)]
                    + [("b", k, 5.0 + 0.1 * k) for k in range(5)]
                    + [("b", 5, None)])
    b2 = _tier_rows([("a", 8, 25.0)]
                    + [("a", 9 + k, 10.0 + 0.3 * ((k * 3) % 5))
                       for k in range(4)]
                    + [("b", 6 + k, 5.6 + 0.1 * k) for k in range(3)])

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_zscore(stream, window=6, nsig=3.0, min_obs=4)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(b1)
    run(b2)
    cols = ["url", "bucket_start", "n_window", "zscore", "is_anomaly"]
    got = (spark.read.parquet(out).orderBy("url", "bucket_start")
           .select(*cols).toPandas())
    want = (anomaly_zscore(spark.createDataFrame(b1 + b2, TIER_DDL),
                           window=6, nsig=3.0, min_obs=4)
            .orderBy("url", "bucket_start").select(*cols).toPandas())
    assert got["url"].tolist() == want["url"].tolist()
    assert got["n_window"].tolist() == want["n_window"].tolist()
    gz, wz = got["zscore"].to_numpy(float), want["zscore"].to_numpy(float)
    import numpy as np
    assert ((gz == wz) | (np.isnan(gz) & np.isnan(wz))).all()
    assert got["is_anomaly"].tolist() == want["is_anomaly"].tolist()
    assert bool(got["is_anomaly"].any())      # the spike actually fires


def test_streaming_holt_matches_batch(spark, tmp_path):
    """Holt (level, trend) state carried across TWO availableNow
    passes == the batch fold on the concatenated data, bit-for-bit."""
    from pyrate_spark.operators.anomaly import holt_forecast
    from pyrate_spark.streaming.corrections import streaming_holt

    src = str(tmp_path / "hsrc")
    out = str(tmp_path / "hout")
    ckpt = str(tmp_path / "hckpt")
    # trending series split mid-trend, plus a level jump in pass 2
    b1 = _tier_rows([("a", k, 10.0 + 2.0 * k + 0.25 * (k % 3))
                     for k in range(7)]
                    + [("b", k, 50.0 - k) for k in range(4)])
    b2 = _tier_rows([("a", 7 + k, 24.0 + 2.0 * k) for k in range(5)]
                    + [("b", 4, None)]
                    + [("b", 5 + k, 80.0 + k) for k in range(3)])

    def run(rows):
        spark.createDataFrame(rows, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_holt(stream, alpha=0.5, beta=0.3)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run(b1)
    run(b2)
    cols = ["url", "bucket_start", "level", "trend", "forecast",
            "forecast_error"]
    got = (spark.read.parquet(out).orderBy("url", "bucket_start")
           .select(*cols).toPandas())
    want = (holt_forecast(spark.createDataFrame(b1 + b2, TIER_DDL),
                          alpha=0.5, beta=0.3)
            .orderBy("url", "bucket_start").select(*cols).toPandas())
    import numpy as np
    assert got["url"].tolist() == want["url"].tolist()
    for c in ("level", "trend", "forecast", "forecast_error"):
        g = got[c].to_numpy(float)
        w = want[c].to_numpy(float)
        assert ((g == w) | (np.isnan(g) & np.isnan(w))).all(), c


def test_streaming_zscore_holt_validate_args(spark):
    from pyrate_spark.streaming.corrections import (streaming_holt,
                                                    streaming_zscore)
    with pytest.raises(ValueError):
        streaming_zscore(None, window=0)
    with pytest.raises(ValueError):
        streaming_zscore(None, min_obs=1)
    with pytest.raises(ValueError):
        streaming_holt(None, alpha=0.0)
    with pytest.raises(ValueError):
        streaming_holt(None, beta=1.5)


def test_streaming_seasonal_matches_batch(spark, tmp_path):
    """Stream-static residual scoring against the batch-derived
    profile, across TWO availableNow passes == the batch
    seasonal_baseline on the same data, bit-for-bit (the profile is
    bit-identical by construction; the join adds no arithmetic)."""
    from pyrate_spark.operators.anomaly import (seasonal_baseline,
                                                seasonal_profile)
    from pyrate_spark.streaming.corrections import streaming_seasonal

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    rows = _tier_rows([("a", h, 10.0 + (h % 24) + 0.01 * h)
                       for h in range(72)]
                      + [("b", h, 50.0 - (h % 24)) for h in range(48)]
                      + [("b", 48, None)])
    batch = spark.createDataFrame(rows, TIER_DDL)
    profile = seasonal_profile(batch)

    half = len(rows) // 2
    for part in (rows[:half], rows[half:]):
        spark.createDataFrame(part, TIER_DDL).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(TIER_DDL)
                  .option("maxFilesPerTrigger", "8").parquet(src))
        q = (streaming_seasonal(stream, profile)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    cols = ["url", "bucket_start", "hod", "baseline", "residual",
            "n_profile"]
    got = (spark.read.parquet(out).orderBy("url", "bucket_start")
           .select(*cols).toPandas())
    want = (seasonal_baseline(batch)
            .orderBy("url", "bucket_start").select(*cols).toPandas())
    assert got["url"].tolist() == want["url"].tolist()
    assert got["hod"].tolist() == want["hod"].tolist()
    assert got["n_profile"].tolist() == want["n_profile"].tolist()
    for c in ("baseline", "residual"):
        assert (got[c].to_numpy(float) == want[c].to_numpy(float)).all()


def test_streaming_cusum_rejects_bad_sigma(spark):
    from pyrate_spark.streaming.corrections import streaming_cusum
    with pytest.raises(ValueError):
        streaming_cusum(None, mean=0.0, sigma=0.0)


def test_foreachbatch_corrections_equals_batch(spark, tmp_path):
    """run_correct_stream(foreachBatch) on a single micro-batch ==
    run_correct on the same frame."""
    from pyrate_spark.plans.pipeline import run_correct
    from pyrate_spark.streaming.corrections import run_correct_stream
    from pyrate_spark.config import EngineConfig
    import numpy as np

    cfg = EngineConfig()
    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    rows = [("a", BASE + dt.timedelta(hours=6 * k), float(5 * k + 3))
            for k in range(8)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double")
    df.write.parquet(src)
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, value double").parquet(src)
    q = run_correct_stream(stream, out, ckpt, cfg,
                           order=("orbfit", "refphase"))
    q.awaitTermination(120)
    got = (spark.read.parquet(out).orderBy("warc_ts")
           .select("value").toPandas()["value"].to_numpy())
    want = (run_correct(df, cfg, order=("orbfit", "refphase"))
            .orderBy("warc_ts").select("value").toPandas()["value"]
            .to_numpy())
    np.testing.assert_allclose(got, want, atol=1e-12)


def test_streaming_cascade_matches_batch(spark, tmp_path):
    """Continuous-aggregate cascade (hourly tier stream -> daily) ==
    the batch cascade_rollup, including across a micro-batch split of
    the hourly source (one file per batch, chronological)."""
    import numpy as np
    from pyrate_spark.operators.rollup import cascade_rollup
    from pyrate_spark.streaming.tiers import streaming_cascade_rollup

    rows = []
    for u in ("a", "b"):
        for d in range(3):
            for h in (0, 5, 11, 23):
                rows.append((u, BASE + dt.timedelta(days=d, hours=h),
                             float(d * 24 + h), 0.25 if h == 5 else 0.0,
                             4))
    ddl = ("url string, bucket_start timestamp, value_avg double, "
           "null_fraction double, n_obs long")
    hourly = spark.createDataFrame(rows, ddl)
    expect = (cascade_rollup(hourly, "1 day", thresh=0.5)
              .orderBy("url", "bucket_start").toPandas())

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two chronological files -> two availableNow passes; then sentinel
    # flush passes drive every real bucket over the append frontier
    cut = BASE + dt.timedelta(days=1)
    hourly.where(F.col("bucket_start") < cut).coalesce(1) \
        .write.mode("overwrite").parquet(src)

    def one_pass():
        stream = spark.readStream.schema(ddl).parquet(src)
        q = (streaming_cascade_rollup(stream, "1 day", thresh=0.5,
                                      watermark="0 seconds")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    one_pass()
    hourly.where(F.col("bucket_start") >= cut).coalesce(1) \
        .write.mode("append").parquet(src)
    one_pass()
    for days in (30, 60):
        spark.createDataFrame(
            [("__flush__", BASE + dt.timedelta(days=days), None, 0.0, 1)],
            ddl).write.mode("append").parquet(src)
        one_pass()

    got = (spark.read.parquet(out).where(F.col("url") != "__flush__")
           .orderBy("url", "bucket_start").toPandas())
    assert len(got) == len(expect)
    for c in ("url", "bucket_start", "n_obs"):
        assert list(got[c]) == list(expect[c]), c
    np.testing.assert_allclose(got["value_avg"], expect["value_avg"],
                               rtol=1e-12)
    np.testing.assert_allclose(got["null_fraction"],
                               expect["null_fraction"], rtol=1e-12)


def test_streaming_sessionize_state_across_microbatches(spark, tmp_path):
    """A session whose events straddle two availableNow passes must
    MERGE (the open-session state survives the checkpoint), and a
    sentinel flush then emits exactly the batch sessionize result."""
    from pyrate_spark.operators.windows import sessionize
    from pyrate_spark.streaming.tiers import streaming_sessionize

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    ddl = "url string, warc_ts timestamp, value double"

    m = dt.timedelta(minutes=1)
    pass1 = [("a", BASE, 1.0), ("a", BASE + 10 * m, 2.0),
             ("b", BASE + 5 * m, 5.0)]
    # continues a's open session (20 min after its last event) and
    # starts a new one for b (40 min gap)
    pass2 = [("a", BASE + 30 * m, 3.0), ("b", BASE + 45 * m, 6.0)]
    flush = [("__flush__", BASE + dt.timedelta(days=30), None)]

    def run(rows):
        # ONE part file per pass: with multiple part files,
        # maxFilesPerTrigger=1 orders micro-batches by file modTime
        # (nondeterministic under load), and a later-processed
        # earlier-timestamped file lands behind the 0-second watermark
        # and splits the session — the exact multi-batch hazard the
        # streaming module documents. Each pass IS the micro-batch.
        spark.createDataFrame(rows, ddl).coalesce(1).write \
            .mode("append").parquet(src)
        stream = (spark.readStream.schema(ddl)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (streaming_sessionize(stream, "30 minutes",
                                  watermark="0 seconds")
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run(pass1)
    run(pass2)
    run(flush)

    got = (spark.read.parquet(out)
           .where(F.col("url") != "__flush__")
           .orderBy("url", "session_start")
           .select("url", "session_start", "session_end", "n_events",
                   "value_avg").toPandas())
    want = (sessionize(
        spark.createDataFrame(pass1 + pass2, ddl), gap="30 minutes")
        .orderBy("url", "session_start")
        .select("url", "session_start", "session_end", "n_events",
                "value_avg").toPandas())
    assert got.values.tolist() == want.values.tolist()
    # the straddling session really merged: url a has ONE session of 3
    a = got[got["url"] == "a"]
    assert len(a) == 1 and a.iloc[0]["n_events"] == 3
