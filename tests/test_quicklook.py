"""S9 quicklook sink tests: colourmap maths vs the reference formulas
(merge.py:195-231), nearest-entry classification, PNG golden hash and
round-trip decode, KML/colourmap sidecar formats."""

import hashlib
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.operators.quicklook import (
    N_STEPS, class_index_col, quicklook_colormap, quicklook_sink,
    rate_grid, write_png)


def test_rate_colormap_matches_reference_formula():
    breaks, rgba, mn, mx = quicklook_colormap(-3.0, 7.0, "stack_rate")
    # symmetric range around zero
    assert mn == -7.0 and mx == 7.0
    assert len(breaks) == N_STEPS + 1 == 255
    # endpoints: most-negative -> red, zero -> white, most-positive -> blue
    assert tuple(rgba[0][:3]) == (255.0, 0.0, 0.0)
    assert tuple(rgba[127][:3]) == (255.0, 255.0, 255.0)
    assert tuple(rgba[254][:3]) == (0.0, 0.0, 255.0)
    # palindrome green channel, monotone red/blue ramps
    assert np.allclose(rgba[:, 1], rgba[::-1, 1])
    assert np.all(np.diff(rgba[:, 0]) <= 0)
    assert np.all(np.diff(rgba[:, 2]) >= 0)
    # re-derive from merge.py:203-215 verbatim to pin the formula
    mid = int(N_STEPS * 0.5)
    r = np.arange(0, mid) / mid
    g = r
    r = np.concatenate((r, np.ones(mid + 1)))
    g = np.concatenate((g, np.array([1]), np.flipud(g)))
    b = np.flipud(r)
    np.testing.assert_allclose(rgba[:, 0], np.flipud(r) * 255)
    np.testing.assert_allclose(rgba[:, 1], np.flipud(g) * 255)
    np.testing.assert_allclose(rgba[:, 2], np.flipud(b) * 255)


def test_error_colormap_white_to_red():
    breaks, rgba, mn, mx = quicklook_colormap(0.5, 2.5, "stack_error")
    assert (mn, mx) == (0.5, 2.5)
    assert tuple(rgba[0][:3]) == (255.0, 255.0, 255.0)   # min error white
    assert rgba[254][0] == 255.0 and rgba[254][1] == 0.0  # max error red
    assert np.allclose(rgba[:, 1], rgba[:, 2])


def test_unknown_type_rejected():
    with pytest.raises(ValueError):
        quicklook_colormap(0, 1, "not_a_product")


def test_class_index_nearest_entry(spark):
    df = spark.createDataFrame(
        [(0, -7.0), (1, 0.0), (2, 7.0), (3, None), (4, float("nan")),
         (5, 6.99), (6, -6.99)], "i int, v double")
    out = (df.select("i", class_index_col("v", -7.0, 7.0).alias("c"))
           .orderBy("i").collect())
    cls = [r["c"] for r in out]
    assert cls[0] == 0 and cls[1] == 127 and cls[2] == 254
    assert cls[3] is None and cls[4] is None
    assert cls[5] == 254 and cls[6] == 0  # nearest entry at the rims


def test_png_roundtrip_and_golden_hash(tmp_path):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13, 4), dtype=np.uint8)
    png = write_png(img, str(tmp_path / "t.png"))
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    assert (h, w) == (9, 13)
    # decode the single IDAT back and compare pixel-exact
    idat_off = png.index(b"IDAT") + 4
    (idat_len,) = struct.unpack(">I", png[idat_off - 8:idat_off - 4])
    raw = zlib.decompress(png[idat_off:idat_off + idat_len])
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(9, 13 * 4 + 1)
    assert np.all(rows[:, 0] == 0)  # filter byte
    np.testing.assert_array_equal(rows[:, 1:].reshape(9, 13, 4), img)
    # deterministic encoder -> golden hash is stable across runs
    assert (hashlib.sha256(png).hexdigest()
            == hashlib.sha256(
                write_png(img, str(tmp_path / "t2.png"))).hexdigest())


def test_quicklook_sink_end_to_end(spark, tmp_path):
    per_key = spark.createDataFrame(
        [(f"u{i:03d}", float(i - 8)) for i in range(20)]
        + [("u_nan", float("nan"))], "url string, rate double")
    grid = rate_grid(per_key, width=5)
    meta = quicklook_sink(grid, str(tmp_path), "stack_rate")
    assert meta["min"] == -11.0 and meta["max"] == 11.0  # symmetrized
    assert meta["n_pixels"] == 21
    png = (tmp_path / "stack_rate.png").read_bytes()
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    cmap = (tmp_path / "colourmap_stack_rate.txt").read_text().splitlines()
    assert cmap[0] == "nan 0 0 0 0"
    assert len(cmap) == 256 and cmap[1].endswith(" 255")
    kml = (tmp_path / "stack_rate.kml").read_text()
    assert "<GroundOverlay>" in kml and "stack_rate.png" in kml
    # spot-check one pixel: rate 0.0 -> class 127 -> white opaque
    idat_off = png.index(b"IDAT") + 4
    (idat_len,) = struct.unpack(">I", png[idat_off - 8:idat_off - 4])
    raw = zlib.decompress(png[idat_off:idat_off + idat_len])
    w = meta["width"]
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(meta["height"],
                                                      w * 4 + 1)
    img = rows[:, 1:].reshape(meta["height"], w, 4)
    # key u008 has rate 0.0; row-major position 8 -> y=1, x=3
    np.testing.assert_array_equal(img[1, 3], [255, 255, 255, 255])
    # the NaN key (sorted last, position 20 -> y=4, x=0) is transparent
    np.testing.assert_array_equal(img[4, 0], [0, 0, 0, 0])


def test_sink_plan_stays_distributed(spark):
    """Class assignment is pure column algebra — no UDF in the plan."""
    df = spark.range(10).select(
        F.col("id").cast("int").alias("y"), F.lit(0).alias("x"),
        (F.col("id") * 1.0).alias("value"))
    classed = df.select(class_index_col("value", 0.0, 9.0).alias("c"))
    plan = classed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestClosurePlot:
    """closure_sums (A8 table) + closure_plot (plot_closure.py graft)."""

    @pytest.fixture(scope="class")
    def pairs(self, spark):
        import datetime as dt
        t = [dt.datetime(2024, 1, 1) + dt.timedelta(days=k)
             for k in range(4)]
        rows = []
        for url, scale in (("u1", 1.0), ("u2", 2.0)):
            for f, s, d in ((0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.5),
                            (2, 3, 1.0), (1, 3, 3.0)):
                rows.append((url, t[f], t[s], d * scale, 0.0, 0.0))
        return spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
                  "delta_value double, time_span double, "
                  "nan_fraction double")

    @pytest.fixture(scope="class")
    def sums(self, pairs):
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.corrections import closure_sums
        cfg = EngineConfig(max_loop_length=4,
                           max_loop_redundancy=10 ** 6)
        return closure_sums(pairs, cfg).persist()

    def test_closure_sums_hand_network(self, sums):
        out = sums.orderBy("url", "loop_key").toPandas()
        u1 = out[out.url == "u1"]
        # triangles: d01+d12-d02 = -0.5; d12+d23-d13 = 0.0;
        # quad t0->t1->t3->t2->t0 (deterministic DFS order):
        # d01+d13-d23-d02 = -0.5
        assert len(u1) == 3
        by_edges = {int(r.n_edges): [] for _, r in u1.iterrows()}
        for _, r in u1.iterrows():
            by_edges[int(r.n_edges)].append(r)
        tris = sorted((r.loop_key, r.closure) for r in by_edges[3])
        assert tris[0][1] == pytest.approx(-0.5)
        assert tris[1][1] == pytest.approx(0.0)
        assert by_edges[4][0].closure == pytest.approx(-0.5)
        # weights in seconds: triangle over [t0,t2] = 2*(2 days)
        assert sorted(r.loop_weight for _, r in u1.iterrows()) == [
            pytest.approx(345600.0), pytest.approx(345600.0),
            pytest.approx(518400.0)]
        # u2 values are doubled -> closures double
        u2 = out[out.url == "u2"].sort_values("loop_key")
        np.testing.assert_allclose(
            sorted(u2["closure"]), sorted(2 * u1["closure"]))

    def test_closure_plot_files_and_pixels(self, sums, tmp_path):
        from pyrate_spark.operators.quicklook import closure_plot
        thr = 0.5 / np.pi          # bound = thr*pi = 0.5
        meta = closure_plot(sums, str(tmp_path), thr=thr, iteration=2)
        assert meta["n_loops_total"] == 3
        assert meta["n_loops_plotted"] == 3
        assert not meta["truncated"]
        assert meta["bound"] == pytest.approx(0.5)
        p = tmp_path / "closure_loops_iteration_2_fig_0.png"
        assert p.exists()
        png = p.read_bytes()
        idat_off = png.index(b"IDAT") + 4
        (idat_len,) = struct.unpack(">I", png[idat_off - 8:idat_off - 4])
        raw = zlib.decompress(png[idat_off:idat_off + idat_len])
        # fig geometry: 2 urls on a width-16 grid -> 1-row panels
        h = 7 * 1 + 8 * 2
        w = 7 * 16 + 8 * 2
        img = (np.frombuffer(raw, dtype=np.uint8)
               .reshape(h, w * 4 + 1)[:, 1:].reshape(h, w, 4))
        # loops sort by loop_key: [tri(t0t1t2), quad, tri(t1t2t3)];
        # u1 sorts before u2 -> panel pixel (0, 0).
        # lid0 (closure -0.5 = -bound) -> class 0 -> red
        np.testing.assert_array_equal(img[2, 2], [255, 0, 0, 255])
        # lid2 (closure 0.0) at panel col 2 -> class 127 -> white
        np.testing.assert_array_equal(img[2, 2 + 2 * (16 + 2)],
                                      [255, 255, 255, 255])
        # empty slot stays transparent
        np.testing.assert_array_equal(img[2, 2 + 3 * (16 + 2)],
                                      [0, 0, 0, 0])
        # deterministic bytes: re-render -> identical file
        meta2 = closure_plot(sums, str(tmp_path / "again"), thr=thr,
                             iteration=2)
        again = (tmp_path / "again"
                 / "closure_loops_iteration_2_fig_0.png").read_bytes()
        assert hashlib.sha256(png).hexdigest() == \
            hashlib.sha256(again).hexdigest()
        assert meta2 == meta

    def test_truncation_disclosed(self, sums, tmp_path):
        from pyrate_spark.operators.quicklook import closure_plot
        meta = closure_plot(sums, str(tmp_path), thr=1.0, max_loops=2)
        assert meta["n_loops_total"] == 3
        assert meta["n_loops_plotted"] == 2
        assert meta["truncated"]


def test_rate_grid_sink_stable_at_5000_keys(spark, tmp_path):
    """The raster size and the coordinates come from one execution of
    rate_grid's range partitioning: 5000 keys read back from 16 files
    (enough rows per input split that the range bounds are sampled)
    render 8 times without an out-of-bounds raise, each key on its
    sorted row-major pixel."""
    src = str(tmp_path / "rates")
    (spark.range(5000)
     .select(F.format_string("https://host%04d.example/p/%05d",
                             F.col("id") % 10, F.col("id")).alias("url"),
             F.rand(7).alias("rate"))
     .repartition(16).write.parquet(src))
    rates = spark.read.parquet(src)
    for i in range(8):
        meta = quicklook_sink(rate_grid(rates), str(tmp_path / f"q{i}"),
                              "rate")
        assert (meta["n_pixels"], meta["height"], meta["width"]) \
            == (5000, 313, 16)
    grid = rate_grid(rates)
    got = sorted((r["url"], r["y"] * 16 + r["x"]) for r in grid.collect())
    assert [p for _, p in got] == list(range(5000))
