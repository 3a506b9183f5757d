"""Correction stages + orderable pipeline + Gorilla tier sink."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.operators.corrections import (aps_temporal_filter,
                                                closure_fixpoint,
                                                closure_mask,
                                                dem_error_analog,
                                                maxvar_column,
                                                orbital_detrend,
                                                ref_phase_subtract, EPSILON)
from pyrate_spark.operators.tiersink import decode_tier, encode_tier
from pyrate_spark.plans.pipeline import run_correct, validate_order

BASE = dt.datetime(2024, 1, 1)
CFG = EngineConfig(tlpf_cutoff_days=7, tlpf_pthr=1)


def _series(spark, vals):
    rows = [(u, BASE + dt.timedelta(hours=6 * k), float(v))
            for u, series in vals.items() for k, v in enumerate(series)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double")


def test_ref_phase_subtract_removes_batch_bias(spark):
    # every url shifted by the same per-day bias: the per-bucket median
    # subtraction must recover bias-free values (+ epsilon shim)
    s = _series(spark, {"a": [10, 10, 10, 10], "b": [20, 20, 20, 20],
                        "c": [30, 30, 30, 30]})
    out = ref_phase_subtract(s, CFG, bucket="1 day").toPandas()
    # per-bucket median is url b's 20 -> a=-10, b=0, c=+10
    got = sorted(round(v - EPSILON, 9) for v in out["value"])
    assert got == [-10.0] * 4 + [0.0] * 4 + [10.0] * 4


def test_orbital_detrend_removes_linear_ramp(spark):
    t = np.arange(12)
    s = _series(spark, {"a": 5.0 * t + 3.0, "b": -2.0 * t + 1.0})
    out = orbital_detrend(s, CFG, degree=1).toPandas()
    np.testing.assert_allclose(out["value"].to_numpy(), 0.0, atol=1e-9)
    out0 = orbital_detrend(s, CFG, degree=0).toPandas()
    # offset removal only: median-centred, slope remains
    assert abs(out0["value"].to_numpy().mean()) < 30


def test_aps_filter_removes_constant(spark):
    s = _series(spark, {"a": [7.0] * 10})
    out = aps_temporal_filter(s, CFG).toPandas()
    np.testing.assert_allclose(out["value"].to_numpy(), 0.0, atol=1e-9)


def test_maxvar_column(spark):
    s = _series(spark, {"a": [1.0, 2, 3, 4], "b": [5.0, 5, 5, 5]})
    out = maxvar_column(s, CFG).toPandas()
    a = out[out.url == "a"]["maxvar"].iloc[0]
    b = out[out.url == "b"]["maxvar"].iloc[0]
    assert a == pytest.approx(np.var([1, 2, 3, 4], ddof=1))
    assert b == pytest.approx(0.0)


def test_pipeline_order_and_validation(spark):
    s = _series(spark, {"a": np.arange(8.0)})
    out = run_correct(s, CFG, order=("orbfit", "refphase"))
    assert out.count() == 8
    with pytest.raises(ValueError, match="unknown"):
        validate_order(["orbfit", "nope"])


def test_closure_mask(spark):
    # triangle network per url; url 'bad' has one corrupted edge
    def tri(url, corrupt):
        t0, t1, t2 = (BASE, BASE + dt.timedelta(days=10),
                      BASE + dt.timedelta(days=20))
        d01, d12 = 1.0, 2.0
        d02 = 3.0 + (10.0 if corrupt else 0.0)
        return [(url, t0, t1, d01, 10 / 365.25, 0.0),
                (url, t1, t2, d12, 10 / 365.25, 0.0),
                (url, t0, t2, d02, 20 / 365.25, 0.0)]

    pairs = spark.createDataFrame(
        tri("ok", False) + tri("bad", True),
        "url string, ts_first timestamp, ts_second timestamp, "
        "delta_value double, time_span double, nan_fraction double")
    cfg = EngineConfig(max_loop_length=3,
                       closure_thr=0.5)
    out = closure_mask(pairs, cfg).toPandas()
    ok = out[out.url == "ok"]
    bad = out[out.url == "bad"]
    assert (ok["n_loops"] == 1).all() and (ok["n_breach"] == 0).all()
    assert (bad["n_breach"] == 1).all()
    # P5: every obs of 'bad' breaches in all its loops -> masked
    assert bad["delta_value"].isna().all()
    assert not ok["delta_value"].isna().any()


def _fixpoint_net(spark):
    """4-epoch network, one corrupted edge: tri1(t0,t1,t2) breaches via
    (t0,t2)=10, tri2(t1,t2,t3) is clean. Hand-computed drop sequence:
    iter 1 drops (t0,t1) and (t0,t2) (each breaches in ALL its loops),
    iter 2 finds tri2 intact and converges."""
    t = [BASE + dt.timedelta(days=10 * k) for k in range(4)]
    rows = [("u", t[0], t[1], 1.0, 10 / 365.25, 0.0),
            ("u", t[1], t[2], 1.0, 10 / 365.25, 0.0),
            ("u", t[0], t[2], 10.0, 20 / 365.25, 0.0),
            ("u", t[2], t[3], 1.0, 10 / 365.25, 0.0),
            ("u", t[1], t[3], 2.0, 20 / 365.25, 0.0)]
    return spark.createDataFrame(
        rows, "url string, ts_first timestamp, ts_second timestamp, "
        "delta_value double, time_span double, nan_fraction double"), t


def test_closure_fixpoint_drop_sequence(spark):
    pairs, t = _fixpoint_net(spark)
    cfg = EngineConfig(max_loop_length=3,
                       max_loop_redundancy=10, closure_thr=0.5,
                       min_loops_per_ifg=0, ifg_drop_thr=0.5)
    out = closure_fixpoint(pairs, cfg).toPandas()
    out = out.sort_values(["ts_first", "ts_second"]).reset_index(drop=True)
    got = set(zip(out["ts_first"].dt.day, out["ts_second"].dt.day))
    # survivors = clean triangle (t1,t2), (t2,t3), (t1,t3)
    assert got == {(t[1].day, t[2].day), (t[2].day, t[3].day),
                   (t[1].day, t[3].day)}
    assert (out["n_iter"] == 2).all()
    assert (out["n_loops"] == 1).all() and (out["n_breach"] == 0).all()


def test_closure_fixpoint_min_loops_gate(spark):
    # min_loops_per_ifg=2: no edge participates in >2 loops, so gate 1
    # never fires and the full list is stable at iteration 1
    pairs, _ = _fixpoint_net(spark)
    cfg = EngineConfig(max_loop_length=3,
                       max_loop_redundancy=10, closure_thr=0.5,
                       min_loops_per_ifg=2, ifg_drop_thr=0.5)
    out = closure_fixpoint(pairs, cfg).toPandas()
    assert len(out) == 5
    assert (out["n_iter"] == 1).all()


def test_closure_fixpoint_no_loops_aborts_intact(spark):
    # a chain has no cycles: abort semantics keep the list as-is
    t = [BASE + dt.timedelta(days=10 * k) for k in range(3)]
    rows = [("u", t[0], t[1], 1.0, 10 / 365.25, 0.0),
            ("u", t[1], t[2], 1.0, 10 / 365.25, 0.0)]
    pairs = spark.createDataFrame(
        rows, "url string, ts_first timestamp, ts_second timestamp, "
        "delta_value double, time_span double, nan_fraction double")
    out = closure_fixpoint(pairs, EngineConfig()).toPandas()
    assert len(out) == 2
    assert (out["n_loops"] == 0).all() and (out["n_iter"] == 1).all()


def test_dem_error_analog_recovers_aux_coef(spark):
    rng = np.random.RandomState(0)
    rows = []
    for u, coef in (("a", 2.5), ("b", -1.0)):
        aux = rng.rand(10) * 100
        t = np.arange(10) * 0.01
        val = 3.0 + 4.0 * t + coef * aux
        for k in range(10):
            rows.append((u, BASE + dt.timedelta(days=4 * k),
                         float(val[k]), float(aux[k])))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double, aux double")
    out = dem_error_analog(df, CFG).toPandas()
    for u, coef in (("a", 2.5), ("b", -1.0)):
        got = out[out.url == u]["aux_coef"].iloc[0]
        assert got == pytest.approx(coef, rel=1e-3)


def test_quality_mask(spark):
    from pyrate_spark.operators.corrections import quality_mask
    rows = [("a", BASE, 1.0, 0.9), ("a", BASE + dt.timedelta(hours=1),
             2.0, 0.1)]
    s = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double, coh double")
    out = quality_mask(s, "coh", 0.5).orderBy("warc_ts").toPandas()
    assert out["value"].iloc[0] == 1.0
    assert out["value"].isna().iloc[1]


def test_cohort_lowpass_removes_host_bias(spark):
    from pyrate_spark.operators.corrections import cohort_lowpass
    rows = []
    for host, bias in (("h1", 100.0), ("h2", -50.0)):
        for p in range(3):
            for k in range(4):
                rows.append((f"https://{host}.x/p/{p}",
                             BASE + dt.timedelta(hours=6 * k),
                             bias + float(p)))
    s = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double")
    out = cohort_lowpass(s).toPandas()
    # per-host bias removed: high-pass residuals centred per cohort
    h1 = out[out.url.str.contains("h1")]["value_hp"]
    h2 = out[out.url.str.contains("h2")]["value_hp"]
    assert abs(h1.mean()) < 1e-9 and abs(h2.mean()) < 1e-9
    # and the low-pass carries the bias
    assert out[out.url.str.contains("h1")]["value_lp"].iloc[0] == \
        pytest.approx(101.0)


def test_gorilla_tier_roundtrip(spark):
    rows = [("u%d" % (i % 5), BASE + dt.timedelta(hours=i),
             float(i) if i % 7 else None)
            for i in range(200)]
    tier = spark.createDataFrame(
        rows, "url string, bucket_start timestamp, value_avg double")
    enc = encode_tier(tier, "1 hour", CFG)
    pe = enc.toPandas()
    assert pe["n_points"].sum() == 200
    # NaN-bearing + compressed
    assert (pe["bytes_encoded"] < pe["bytes_raw"]).all()
    dec = decode_tier(enc).orderBy("url", "bucket_start").toPandas()
    src = tier.orderBy("url", "bucket_start").toPandas()
    assert len(dec) == 200
    np.testing.assert_array_equal(
        dec["bucket_start"].to_numpy(), src["bucket_start"].to_numpy())
    np.testing.assert_array_equal(
        dec["value_avg"].to_numpy(), src["value_avg"].to_numpy())


def test_cell_size_and_los(spark):
    from pyrate_spark.operators.refpixel import cell_size_metres, los_project
    df = spark.createDataFrame([("a", 0.0, 10.0), ("b", 60.0, 10.0)],
                               "url string, lat double, value double")
    out = cell_size_metres(df, "lat", 0.001, 0.001).toPandas()
    eq = out[out.url == "a"].iloc[0]
    mid = out[out.url == "b"].iloc[0]
    assert eq["x_size_m"] == pytest.approx(111.11111111, rel=1e-9)
    assert mid["x_size_m"] == pytest.approx(111.11111111 * 0.5, rel=1e-9)
    np.testing.assert_allclose(out["y_size_m"].to_numpy(), 111.11111111,
                               rtol=1e-9)
    los = los_project(
        df.withColumn("inc", F.lit(np.pi / 3)), "inc").toPandas()
    np.testing.assert_allclose(los["value"].to_numpy(), 20.0)  # /cos(60deg)


def test_ref_phase_min_valid_gate(spark):
    # a bucket below min_valid contributes NO correction (A4 gate)
    s = _series(spark, {"a": [10.0], "b": [20.0]})
    out = ref_phase_subtract(s, CFG, bucket="1 day",
                             min_valid=3).toPandas()
    got = sorted(round(v + EPSILON, 9) for v in out["value"])
    assert got == [10.0, 20.0]         # unshifted


def test_orbital_network_overdetermined(spark):
    """T16 joint inversion on a redundant network equals the direct
    numpy lstsq, and MST-subset fitting differs from all-pairs when
    the extra edge is noisy."""
    from pyrate_spark.operators.corrections import orbital_network
    t = [BASE + dt.timedelta(days=10 * k) for k in range(4)]
    o_true = [0.0, 2.0, 3.0, 7.0]
    # chain edges exact; skip edge (t0,t2) carries +1.5 noise
    rows = [("u", t[0], t[1], 2.0, 10 / 365.25, 0.0),
            ("u", t[1], t[2], 1.0, 10 / 365.25, 0.0),
            ("u", t[2], t[3], 4.0, 10 / 365.25, 0.0),
            ("u", t[0], t[2], 3.0 + 1.5, 20 / 365.25, 0.0)]
    pairs = spark.createDataFrame(
        rows, "url string, ts_first timestamp, ts_second timestamp, "
        "delta_value double, time_span double, nan_fraction double")
    out = (orbital_network(pairs, EngineConfig(),
                           use_mst=False)
           .toPandas().sort_values(["ts_first", "ts_second"])
           .reset_index(drop=True))
    # direct lstsq twin
    B = np.zeros((4, 3))
    d = np.array([2.0, 1.0, 4.0, 4.5])
    edges = [(0, 1), (1, 2), (2, 3), (0, 2)]
    for k, (i, j) in enumerate(edges):
        if j > 0:
            B[k, j - 1] += 1
        if i > 0:
            B[k, i - 1] -= 1
    coef = np.linalg.lstsq(B, d, rcond=None)[0]
    want = d - B @ coef
    got = out.sort_values(["ts_first", "ts_second"])
    key = list(zip(got["ts_first"].dt.day, got["ts_second"].dt.day))
    want_by_key = {(t[i].day, t[j].day): want[k]
                   for k, (i, j) in enumerate(edges)}
    for k, kk in enumerate(key):
        assert got["delta_corrected"].iloc[k] == pytest.approx(
            want_by_key[kk], abs=1e-9)
    # noisy edge spreads: residuals non-zero on the affected loop
    assert np.abs(want).max() > 0.3
