"""A11 maxvar/alpha kernel oracles.

The reference's legacy oracle (tests/test_covariance.py:179-243)
requires its GDAL ingest chain, absent in this runtime; parity is
established mathematically instead: the FFT path must equal the
direct circular-autocovariance definition (Wiener-Khinchin), the
alpha fit must recover a known exponential, and the maxvar VCM must
reweight the stack exactly like a hand-built Biggs VCM."""

import datetime as dt

import numpy as np
import pytest

from pyrate_spark.kernels.covariance import (_fmin_1d, autocov_grid,
                                             cvd_from_series,
                                             series_to_grid)
from pyrate_spark.kernels.stack import stack_rate_pixel
from pyrate_spark.kernels.vcm import get_vcmt


def _brute_circular_acov(x, nzc):
    n = len(x)
    c = np.array([sum(x[i] * x[(i + k) % n] for i in range(n))
                  for k in range(n)])
    return np.fft.fftshift(c) / nzc


class TestWienerKhinchin:
    def test_fft_equals_direct_sum(self):
        rng = np.random.RandomState(7)
        x = rng.randn(64)
        x[5] = x[30] = 0.0                       # zeroed gaps
        nzc = int(np.count_nonzero(x))
        got = autocov_grid(x, nzc)
        want = _brute_circular_acov(x, nzc)
        np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)

    def test_odd_length(self):
        rng = np.random.RandomState(11)
        x = rng.randn(33)
        got = autocov_grid(x, 33)
        want = _brute_circular_acov(x, 33)
        np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)

    def test_maxvar_zero_lag_white_noise(self):
        rng = np.random.RandomState(3)
        x = rng.randn(256)
        mv, _ = cvd_from_series(x, dt=1.0)
        # white noise: zero-lag dominates, = sum(x^2)/nzc
        assert mv == pytest.approx(float((x ** 2).sum()) / 256, rel=1e-12)

    def test_nan_zeroed_like_reference(self):
        rng = np.random.RandomState(5)
        x = rng.randn(64)
        x_nan = x.copy()
        x_nan[10:14] = np.nan
        x_zero = x.copy()
        x_zero[10:14] = 0.0
        mv_a, _ = cvd_from_series(x_nan, dt=1.0)
        nzc = 60
        acg = autocov_grid(x_zero, nzc)
        keep = int(np.ceil(64 / 2.0)) + 1
        assert mv_a == pytest.approx(float(acg[:keep].max()), rel=1e-12)


class TestAlphaFit:
    def test_fmin_recovers_exact_exponential_minimum(self):
        r = np.arange(20, dtype=float) * 2.0
        true_a = 0.17
        cv = 3.5 * np.exp(-true_a * r)

        def obj(a):
            return float(np.linalg.norm(cv - cv[0] * np.exp(-a * r)))

        got = _fmin_1d(obj, x0=2.0 / (19 * 2.0))
        assert got == pytest.approx(true_a, abs=1e-4)

    def test_alpha_from_ar1_series(self):
        # AR(1): acov ~ sigma^2 rho^|k| = exp(-(-ln rho) k)
        rng = np.random.RandomState(42)
        rho, n = 0.75, 4096
        x = np.zeros(n)
        for i in range(1, n):
            x[i] = rho * x[i - 1] + rng.randn()
        _, alpha = cvd_from_series(x, dt=1.0, calc_alpha=True)
        assert alpha == pytest.approx(-np.log(rho), rel=0.35)


class TestSeriesToGrid:
    def test_bucket_means_and_gaps(self):
        ts = np.array([0, 100, 86400 * 2, 86400 * 2 + 1])
        v = np.array([1.0, 3.0, 5.0, np.nan])
        grid, t0 = series_to_grid(ts, v, 86400)
        assert t0 == 0
        np.testing.assert_allclose(grid[0], 2.0)     # mean(1, 3)
        assert np.isnan(grid[1])                     # empty day
        np.testing.assert_allclose(grid[2], 5.0)     # NaN obs skipped


class TestMaxvarVCMWiring:
    def test_stack_with_maxvar_vcm_matches_direct(self, spark):
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.grouped import stack_rate_per_url
        from pyspark.sql import functions as F
        base = dt.datetime(2024, 1, 1)
        t = [base + dt.timedelta(days=30 * k) for k in range(5)]
        vals = [1.0, 1.2, 0.8, 1.1]
        spans = [30 / 365.25] * 4
        rows = [("u", t[k], t[k + 1], vals[k], spans[k], 0.0, 4.0)
                for k in range(4)]
        pairs = spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
            "delta_value double, time_span double, nan_fraction double, "
            "maxvar double")
        cfg = EngineConfig(nsig=10 ** 9, pthr=1, velerror_nsig=1,
                           vcm_mode="maxvar")
        got = stack_rate_per_url(pairs, cfg, use_mst=False).first()
        fs = np.array([(x - base).total_seconds() for x in t[:4]])
        ss = np.array([(x - base).total_seconds() for x in t[1:]])
        from pyrate_spark.kernels.epochs import epochs_from_pairs
        _, _, ifirst, isecond = epochs_from_pairs(fs, ss)
        vcmt = get_vcmt(ifirst, isecond, np.full(4, 4.0))
        rate, err, n = stack_rate_pixel(
            np.array(vals), np.ones(4, bool), vcmt,
            np.array(spans)[None, :], 10 ** 9, 1)
        assert got["rate"] == pytest.approx(rate)
        assert got["error"] == pytest.approx(err)
        # and the weighting actually differs from identity
        r2, e2, _ = stack_rate_pixel(
            np.array(vals), np.ones(4, bool), np.eye(4),
            np.array(spans)[None, :], 10 ** 9, 1)
        assert e2 != pytest.approx(err)


class TestGaussianLowpass:
    """T12 1-D spectral filter vs a literal direct-DFT transcription of
    the reference's frequency-domain pipeline (aps.py:266-318)."""

    @staticmethod
    def _direct(x, dt, cutoff):
        """O(n^2) direct-DFT replay: X(k) -> W(k)*X(k) -> inverse DFT
        real part, with W over fftshifted distances exactly as
        aps.py:298-311 builds it."""
        n = len(x)
        c = n // 2
        dist = np.abs(np.arange(n) - c) * dt
        sigma = np.std(dist) / cutoff
        # true-frequency weight: position i of the shifted spectrum is
        # frequency (i - c) mod n, so W(k) = wgt[(k + c) mod n]
        wgt = np.exp(-0.5 * (dist / sigma) ** 2)
        w_true = wgt[(np.arange(n) + c) % n]
        k = np.arange(n)
        ang = 2.0 * np.pi * np.outer(k, k) / n
        xr = (x[None, :] * np.cos(ang)).sum(axis=1)
        xi = -(x[None, :] * np.sin(ang)).sum(axis=1)
        out = (w_true[None, :]
               * (xr[None, :] * np.cos(ang) - xi[None, :] * np.sin(ang))
               ).sum(axis=1) / n
        return out

    def test_matches_direct_dft(self):
        from pyrate_spark.kernels.covariance import gaussian_lowpass_grid
        rng = np.random.RandomState(7)
        for n in (5, 8, 13, 64):
            x = rng.randn(n) * 3 + 10
            got = gaussian_lowpass_grid(x, dt=1.0, cutoff=4.0)
            exp = self._direct(x, 1.0, 4.0)
            np.testing.assert_allclose(got, exp, rtol=1e-10, atol=1e-10)

    def test_nan_mask_reinserted_and_filled(self):
        from pyrate_spark.kernels.covariance import gaussian_lowpass_grid
        x = np.array([1.0, np.nan, 3.0, 4.0, np.nan, 6.0])
        got = gaussian_lowpass_grid(x, dt=1.0, cutoff=3.0)
        assert np.isnan(got[1]) and np.isnan(got[4])
        filled = np.array([1.0, 1.0, 3.0, 4.0, 4.0, 6.0])  # tie -> lower
        exp = self._direct(filled, 1.0, 3.0)
        np.testing.assert_allclose(got[~np.isnan(x)], exp[~np.isnan(x)],
                                   rtol=1e-10, atol=1e-10)

    def test_nn_fill_ties_and_edges(self):
        from pyrate_spark.kernels.covariance import nn_fill_1d
        # edge fill, interior tie (index 2 equidistant to 0 and 4 -> 0)
        x = np.array([np.nan, 1.0, np.nan, np.nan, 5.0, np.nan])
        np.testing.assert_array_equal(nn_fill_1d(x),
                                      [1.0, 1.0, 1.0, 5.0, 5.0, 5.0])
        y = np.array([2.0, np.nan, np.nan, np.nan, 8.0])
        np.testing.assert_array_equal(nn_fill_1d(y),
                                      [2.0, 2.0, 2.0, 8.0, 8.0])
        allnan = np.array([np.nan, np.nan])
        assert np.isnan(nn_fill_1d(allnan)).all()

    def test_degenerate_short_grid_identity(self):
        from pyrate_spark.kernels.covariance import gaussian_lowpass_grid
        x = np.array([2.0, 5.0])
        np.testing.assert_array_equal(gaussian_lowpass_grid(x, 1.0, 3.0), x)

    def test_lowpass_attenuates_high_freq_keeps_mean(self):
        from pyrate_spark.kernels.covariance import gaussian_lowpass_grid
        n = 64
        t = np.arange(n, dtype=float)
        slow = np.sin(2 * np.pi * t / 32)
        fast = np.sin(2 * np.pi * t / 2)
        out = gaussian_lowpass_grid(10 + slow + fast, dt=1.0, cutoff=8.0)
        out_slow = gaussian_lowpass_grid(10 + slow, dt=1.0, cutoff=8.0)
        # the fast component is annihilated: adding it changes nothing
        np.testing.assert_allclose(out, out_slow, atol=1e-12)
        # DC passes exactly; the slow component is attenuated, not killed
        assert np.abs(np.mean(out) - 10.0) < 1e-9
        amp = np.abs(out - 10).max()
        assert 0.05 < amp < 1.0


class TestPerRowMaxvarVCM:
    """vcm_mode='maxvar' must honour a per-PAIR maxvar vector (the
    reference's get_vcmt takes per-ifg maxvar: sigma_i*sigma_j), not
    just the first row's value."""

    def test_vcmt_for_uses_full_vector(self):
        from pyrate_spark.operators.udf_kernels import _vcmt_for
        phase = np.array([1.0, 2.0, 3.0])
        ifirst = np.array([0, 1, 0])
        isecond = np.array([1, 2, 2])
        mv = np.array([4.0, 9.0, np.nan])     # nan -> 1.0 fallback
        got = _vcmt_for("maxvar", phase, ifirst, isecond, mv)
        want = get_vcmt(ifirst, isecond, np.array([4.0, 9.0, 1.0]))
        np.testing.assert_allclose(got, want)
        # varying vector differs from broadcasting the first entry
        flat = _vcmt_for("maxvar", phase, ifirst, isecond, mv[0])
        assert not np.allclose(got, flat)

    def test_stack_kernel_gets_per_row_maxvar(self, spark):
        import datetime as dt
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.grouped import stack_rate_per_url
        from pyrate_spark.kernels.stack import stack_rate_pixel
        from pyrate_spark.kernels.epochs import epochs_from_pairs
        base = dt.datetime(2024, 1, 1)
        t = [base + dt.timedelta(days=30 * k) for k in range(5)]
        vals = [1.0, 1.2, 0.8, 1.1]
        mvs = [1.0, 4.0, 9.0, 16.0]           # varies per pair
        spans = [30 / 365.25] * 4
        rows = [("u", t[k], t[k + 1], vals[k], spans[k], 0.0, mvs[k])
                for k in range(4)]
        pairs = spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
            "delta_value double, time_span double, nan_fraction double, "
            "maxvar double")
        cfg = EngineConfig(nsig=10 ** 9, pthr=1, velerror_nsig=1,
                           vcm_mode="maxvar")
        got = stack_rate_per_url(pairs, cfg, use_mst=False).first()
        fs = np.array([(x - base).total_seconds() for x in t[:4]])
        ss = np.array([(x - base).total_seconds() for x in t[1:]])
        _, _, ifirst, isecond = epochs_from_pairs(fs, ss)
        vcmt = get_vcmt(ifirst, isecond, np.array(mvs))
        rate, err, n = stack_rate_pixel(
            np.array(vals), np.ones(4, bool), vcmt,
            np.array(spans)[None, :], 10 ** 9, 1)
        assert got["rate"] == pytest.approx(rate)
        assert got["error"] == pytest.approx(err)
        # and differs from the old first-row-broadcast behaviour
        vcmt_flat = get_vcmt(ifirst, isecond, np.full(4, mvs[0]))
        r_flat, e_flat, _ = stack_rate_pixel(
            np.array(vals), np.ones(4, bool), vcmt_flat,
            np.array(spans)[None, :], 10 ** 9, 1)
        assert e_flat != pytest.approx(err)
