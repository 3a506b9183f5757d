"""r8 shuffle-free grouped-map path: sound clustering detection and
composition-invariant kernels.

clustered_by_key must say True exactly when the physical partitioning
guarantees every key's rows share a partition; keyed_apply then runs
the kernel as MapInPandas with zero new exchanges. Any doubt (renames,
round-robin repartition, raw reads, a different key) must say False,
so the keyed layout adds its own explicit url repartition.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import clustered_by_key
from pyrate_spark.operators.pairs import network_pairs, sequential_pairs


@pytest.fixture(scope="module")
def series(spark):
    return extract_series(generate_pages(
        spark, n_urls=60, epochs_per_url=16, null_pct=10, seed=17))


class TestClusteredByKey:
    def test_false_on_unpersisted_window_output(self, spark, series):
        # clustered, but NOT persisted: AQE may re-coalesce the
        # exchange per query (measured 32 -> 1 partitions on a
        # small-byte pair window), so the shuffle-free layout must
        # decline and take the explicit coalesce-exempt repartition
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert clustered_by_key(p, "url") is False

    def test_true_on_persisted_window_output(self, spark, series):
        p = sequential_pairs(series).persist()
        try:
            p.count()
            assert clustered_by_key(p, "url") is True
        finally:
            p.unpersist()

    def test_true_through_projection_of_persisted(self, spark, series):
        p = network_pairs(series, max_span_days=3,
                          max_pairs_per_epoch=2).persist()
        try:
            p.count()
            assert clustered_by_key(
                p.select("url", "ts_first", "delta_value"), "url") is True
        finally:
            p.unpersist()

    def test_false_after_round_robin_repartition(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert clustered_by_key(p.repartition(5), "url") is False

    def test_false_after_repartition_by_other_key(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert clustered_by_key(p.repartition(5, "ts_first"),
                                "url") is False

    def test_false_when_key_column_rebuilt(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        rebuilt = (p.withColumnRenamed("url", "u")
                   .withColumn("url", F.upper("u")).drop("u"))
        assert clustered_by_key(rebuilt, "url") is False

    def test_false_on_raw_source(self, spark, series):
        assert clustered_by_key(series, "url") is False

    def test_false_for_other_name(self, spark, series):
        p = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
        assert clustered_by_key(p, "ts_first") is False


class TestSegmentRegressionInvariance:
    def test_matches_scalar_linregress_any_composition(self):
        from pyrate_spark.kernels.linalg import (linregress,
                                                 linregress_segments)
        rng = np.random.default_rng(5)
        lens = [2, 7, 31, 4, 19, 3]
        ts = [np.sort(rng.uniform(0, 3, n)) for n in lens]
        ys = [rng.normal(0, 1, n) for n in lens]
        for y in ys[1:]:
            y[rng.integers(0, len(y))] = np.nan   # NaN-awareness
        starts = np.cumsum([0] + [len(t) for t in ts[:-1]])
        s, i_, r2, se, n = linregress_segments(
            np.concatenate(ts), np.concatenate(ys), starts)
        # per-key results identical when the key is alone in the batch
        for k in range(len(lens)):
            s1, i1, r21, se1, n1 = linregress_segments(
                ts[k], ys[k], np.array([0]))
            assert s[k] == s1[0] or (np.isnan(s[k]) and np.isnan(s1[0]))
            assert se[k] == se1[0] or (np.isnan(se[k])
                                       and np.isnan(se1[0]))
        # and agree with the scalar closed form on clean segments
        m = ~np.isnan(ys[2])
        ssc, isc, rsc, sesc = linregress(ts[2][m], ys[2][m])
        assert s[2] == pytest.approx(ssc, rel=1e-12)
        assert r2[2] == pytest.approx(rsc * rsc, rel=1e-12)


class TestSeriesClustering:
    def test_extract_series_clusters_batch_frames(self, spark):
        from pyrate_spark.datagen import generate_pages
        from pyrate_spark.operators.extract import extract_series
        s = extract_series(generate_pages(spark, n_urls=40,
                                          epochs_per_url=6, seed=3)
                           ).persist()
        try:
            s.count()
            assert clustered_by_key(s, "url") is True
            # and the opt-out stays a pure narrow projection
            s2 = extract_series(generate_pages(spark, n_urls=40,
                                               epochs_per_url=6, seed=3),
                                cluster_by_url=False)
            plan = s2._jdf.queryExecution().executedPlan().toString()
            assert "REPARTITION_BY_COL" not in plan
        finally:
            s.unpersist()

    def test_extract_series_never_repartitions_streams(self, spark,
                                                       tmp_path):
        from pyrate_spark.datagen import generate_pages
        from pyrate_spark.operators.extract import extract_series
        p = str(tmp_path / "pages")
        generate_pages(spark, n_urls=10, epochs_per_url=4,
                       seed=3).write.parquet(p)
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, html binary, "
                          "text string, lang string").parquet(p))
        out = extract_series(stream)
        assert out.isStreaming
        plan = out._jdf.queryExecution().logical().toString()
        assert "Repartition" not in plan
