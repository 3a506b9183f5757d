"""The single keyed-execution plan of ``keyed_apply``.

Every keyed kernel runs one plan: the cold keys (null keys included)
keep the input's url clustering when it is persisted, and otherwise take
one coalesce-exempt ``repartition(n, url)``; the hot keys get one
partition each from an exchange over the hot subset only. The fused
rates cross the grouped-list Arrow boundary once, for both branches.

Null keys form one group, like SQL ``GROUP BY``, on every layout.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import generate_pages
from pyrate_spark.operators.extract import extract_series
from pyrate_spark.operators.grouped import (clustered_by_key,
                                            detect_hot_keys,
                                            linear_rate_from_pairs,
                                            mst_annotate,
                                            stack_rate_per_url,
                                            timeseries_per_url)
from pyrate_spark.operators.pairs import network_pairs

CFG = EngineConfig(ts_method=2, ts_pthr=0, velerror_nsig=2)
SENTINEL = "<null-url>"


@pytest.fixture(scope="module")
def pairs_dir(spark, tmp_path_factory):
    """Parquet pairs with two hot urls and one url's rows keyed NULL."""
    series = extract_series(generate_pages(
        spark, n_urls=40, epochs_per_url=12, hot_urls=2, hot_factor=15,
        null_pct=10, seed=23))
    pairs = network_pairs(series, max_span_days=3, max_pairs_per_epoch=2)
    nulled = F.col("url").endswith("/p/00007")
    out = str(tmp_path_factory.mktemp("keyed") / "pairs")
    (pairs.withColumn("url", F.when(nulled, F.lit(None))
                      .otherwise(F.col("url")))
     .write.parquet(out))
    return out


@pytest.fixture(scope="module")
def layouts(spark, pairs_dir):
    """The two input layouts CLI and pipeline callers hand the engine:
    raw parquet, and a persisted url-clustered frame."""
    parquet = spark.read.parquet(pairs_dir)
    clustered = spark.read.parquet(pairs_dir).repartition(4, "url").persist()
    clustered.count()
    assert clustered_by_key(clustered, "url")
    assert not clustered_by_key(parquet, "url")
    yield {"parquet": parquet, "clustered": clustered}
    clustered.unpersist()


@pytest.fixture(scope="module")
def hot(layouts):
    hot = detect_hot_keys(layouts["parquet"])
    assert len(hot) == 2 and None not in hot
    return hot


def _null_rows(layouts):
    pdf = layouts["parquet"].toPandas()
    pdf = pdf[pdf["url"].isna()].copy()
    assert len(pdf) > 10
    pdf["url"] = SENTINEL
    return pdf


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.uint64)


@pytest.mark.parametrize("layout", ["parquet", "clustered"])
def test_null_key_timeseries_equals_driver_kernel(layouts, hot, layout):
    from pyrate_spark.operators.grouped import _ts_input
    from pyrate_spark.operators.udf_kernels import make_timeseries_fn
    got = (timeseries_per_url(layouts[layout], CFG, use_mst=False)
           .where(F.col("url").isNull()).toPandas()
           .sort_values("epoch_id").reset_index(drop=True))
    cols = _ts_input(layouts["parquet"], use_mst=False).columns
    want = make_timeseries_fn(CFG.ts_method, CFG.ts_pthr, CFG.sm_order,
                              CFG.sm_factor, False, CFG.vcm_mode)(
        _null_rows(layouts)[cols])
    assert len(got) == len(want) > 2
    assert list(got["epoch_id"]) == list(want["epoch_id"])
    for c in ("tsvel", "tsincr", "tscuml"):
        np.testing.assert_array_equal(_bits(got[c]), _bits(want[c]),
                                      err_msg=c)


@pytest.mark.parametrize("layout", ["parquet", "clustered"])
def test_null_key_fused_rates_equal_driver_kernels(layouts, hot, layout):
    """The fused rates of the NULL group equal the two driver kernels it
    fuses (inversion, then the cumulative-series regression)."""
    from pyrate_spark.operators.grouped import _ts_input
    from pyrate_spark.operators.udf_kernels import (make_linear_rate_fn,
                                                    make_timeseries_fn)
    got = (linear_rate_from_pairs(layouts[layout], CFG, use_mst=False)
           .where(F.col("url").isNull()).toPandas())
    cols = _ts_input(layouts["parquet"], use_mst=False).columns
    ts = make_timeseries_fn(CFG.ts_method, CFG.ts_pthr, CFG.sm_order,
                            CFG.sm_factor, False, CFG.vcm_mode)(
        _null_rows(layouts)[cols])
    want = make_linear_rate_fn(float(CFG.velerror_nsig), "tscuml",
                               "epoch_ts")(ts)
    assert len(got) == len(want) == 1
    for c in ("rate", "intercept", "rsquared", "error", "samples"):
        np.testing.assert_array_equal(_bits(got[c]), _bits(want[c]),
                                      err_msg=c)


@pytest.mark.parametrize("layout", ["parquet", "clustered"])
def test_null_key_mst_equals_driver_kernel(layouts, hot, layout):
    from pyrate_spark.operators.udf_kernels import make_mst_fn
    key = ["ts_first", "ts_second"]
    got = (mst_annotate(layouts[layout], CFG)
           .where(F.col("url").isNull()).toPandas()
           .sort_values(key).reset_index(drop=True))
    want = (make_mst_fn()(_null_rows(layouts).reset_index(drop=True))
            .sort_values(key).reset_index(drop=True))
    assert len(got) == len(want) > 10
    assert list(got["in_mst"]) == list(want["in_mst"])
    assert got["in_mst"].any()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df):
    """{plan_id: exchange line}: distinct exchanges, since a cached
    plan renders once per union branch."""
    return {m.group(1): line.strip()
            for line in _plan(df).splitlines()
            for m in [re.search(r"Exchange .*\[plan_id=(\d+)\]", line)]
            if m}


def test_parquet_plan_hashes_cold_and_spreads_hot(layouts, hot):
    out = timeseries_per_url(layouts["parquet"], CFG, use_mst=False)
    plan = _plan(out)
    assert "BroadcastExchange" not in plan
    assert "_bucket" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 1
    ex = list(_exchanges(out).values())
    cold = [e for e in ex if "Exchange hashpartitioning(url#" in e]
    spread = [e for e in ex if "Exchange hashpartitioning(_hot#" in e]
    assert len(cold) == 1 and len(spread) == 1 and len(ex) == 2, ex
    assert f", {len(hot)}), REPARTITION_BY_NUM" in spread[0]
    # the hot exchange moves the hot subset only: below it, a filter
    # keeps exactly the hot urls
    lines = plan.splitlines()
    at = next(i for i, s in enumerate(lines)
              if "Exchange hashpartitioning(_hot#" in s)
    below = next(s for s in lines[at + 1:] if "Filter" in s)
    assert "url#" in below and f"IN ({','.join(hot)})" in below, below


def test_clustered_plan_cold_side_adds_no_exchange(layouts, hot):
    src = layouts["clustered"]
    out = timeseries_per_url(src, CFG, use_mst=False)
    added = [e for k, e in _exchanges(out).items()
             if k not in _exchanges(src)]
    assert len(added) == 1 and "hashpartitioning(_hot#" in added[0], added
    assert "BroadcastExchange" not in _plan(out)


@pytest.mark.parametrize("layout", ["parquet", "clustered"])
def test_fused_rates_cross_arrow_on_every_branch(layouts, hot, layout):
    plan = _plan(linear_rate_from_pairs(layouts[layout], CFG,
                                        use_mst=False))
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastExchange" not in plan
    assert "Union" in plan                    # a cold and a hot branch
    assert plan.count("MapInArrow") == 1      # ... crossing once


def _sorted(df, key):
    return df.toPandas().sort_values(key, na_position="first") \
             .reset_index(drop=True)


def test_parquet_equals_clustered_bit_exact(layouts, hot):
    """The layout picks the exchange, never the numbers."""
    for op, key, cols in (
            (timeseries_per_url, ["url", "epoch_id"],
             ("tsvel", "tsincr", "tscuml")),
            (stack_rate_per_url, ["url"], ("rate", "error", "samples"))):
        a = _sorted(op(layouts["parquet"], CFG, use_mst=False), key)
        b = _sorted(op(layouts["clustered"], CFG, use_mst=False), key)
        assert list(a["url"]) == list(b["url"])
        assert hot[0] in set(a["url"]) and a["url"].isna().any()
        for c in cols:
            np.testing.assert_array_equal(_bits(a[c]), _bits(b[c]),
                                          err_msg=f"{op.__name__}.{c}")
