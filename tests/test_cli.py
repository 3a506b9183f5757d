"""Workflow CLI (reference: pyrate/main.py `pyrate <step> -f config`):
config parsing/validation, step ordering, product manifests + skip-on-
rerun, and the `python -m pyrate_spark` subprocess entry."""

import json
import os
import subprocess
import sys

import pytest

from pyrate_spark.cli import (RunConfig, parse_config, run_workflow,
                              step_correct, step_ingest, STEPS)
from pyrate_spark.config import EngineConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)
    return str(path)


def test_parse_config_engine_run_and_aliases(tmp_path):
    conf = _write(tmp_path / "a.conf", """
# comment line
out_dir: /tmp/x           # trailing comment
demo_urls: 9
tsmethod: 2
smfactor: -1.5
noDataAveragingThreshold: 0.25
tiers: 1 hour, 1 day
correct_order: refphase, orbfit
nsig: 4
""")
    rc = parse_config(conf)
    assert rc.out_dir == "/tmp/x"
    assert rc.demo_urls == 9
    # reference-key aliases land on the engine fields
    assert rc.engine.ts_method == 2
    assert rc.engine.sm_factor == -1.5
    assert rc.engine.nan_thresh == 0.25
    assert rc.engine.nsig == 4
    assert rc.engine.tiers == ("1 hour", "1 day")
    assert rc.order() == ("refphase", "orbfit")


def test_parse_config_rejects_unknown_key(tmp_path):
    conf = _write(tmp_path / "b.conf", "out_dir: /tmp/x\nbogus_key: 1\n")
    with pytest.raises(ValueError, match="unknown parameter 'bogus_key'"):
        parse_config(conf)


def test_parse_config_rejects_out_of_range(tmp_path):
    # EngineConfig range validation fires at parse time, before any job
    conf = _write(tmp_path / "c.conf", "out_dir: /tmp/x\ntsmethod: 7\n")
    with pytest.raises(ValueError, match="Invalid value for ts_method"):
        parse_config(conf)


def test_parse_config_requires_out_dir(tmp_path):
    conf = _write(tmp_path / "d.conf", "demo_urls: 5\n")
    with pytest.raises(ValueError, match="out_dir"):
        parse_config(conf)


def test_step_order_enforced(spark, tmp_path):
    rc = RunConfig(engine=EngineConfig(), out_dir=str(tmp_path / "o"))
    with pytest.raises(FileNotFoundError, match="run `pyrate_spark prepifg"):
        step_correct(spark, rc)


def test_params_hash_ignores_placement_knobs():
    base = dict(engine=EngineConfig(), out_dir="/a")
    a = RunConfig(**base)
    b = RunConfig(**{**base, "out_dir": "/b", "parallelism": 16})
    c = RunConfig(**{**base, "demo_seed": 99})
    assert a.params_hash() == b.params_hash()
    assert a.params_hash() != c.params_hash()


def test_workflow_end_to_end_and_skip(spark, tmp_path):
    out = str(tmp_path / "run")
    rc = parse_config(_write(tmp_path / "w.conf", f"""
out_dir: {out}
demo_urls: 12
demo_epochs: 10
demo_seed: 3
tiers: 1 hour, 1 day
"""))
    res = run_workflow(spark, rc)
    assert all(not res[s].get("skipped") for s in STEPS)

    # products exist with the expected shapes
    tscuml = spark.read.parquet(f"{out}/timeseries/tscuml")
    assert tscuml.count() > 0
    assert {"url", "epoch_ts", "tsincr", "tscuml"} <= set(tscuml.columns)
    rates = spark.read.parquet(f"{out}/stack/rates")
    assert rates.count() == 12                       # one row per url
    assert {"rate", "error", "rate_masked"} <= set(rates.columns)
    for slug in ("1_hour", "1_day"):
        assert os.path.exists(f"{out}/merge/tier_{slug}/_SUCCESS")
        assert os.path.exists(f"{out}/merge/tier_{slug}_gorilla/_SUCCESS")
    assert os.path.exists(f"{out}/merge/quicklook/rate.png")
    assert os.path.exists(f"{out}/merge/quicklook/rate.kml")

    # the gorilla tier decodes back to the plain tier, bit-exact
    from pyrate_spark.operators.tiersink import decode_tier
    plain = spark.read.parquet(f"{out}/merge/tier_1_hour")
    dec = decode_tier(spark.read.parquet(f"{out}/merge/tier_1_hour_gorilla"))
    assert dec.count() == plain.where("value_avg is not null").count()

    # second run: every step skips via its manifest
    res2 = run_workflow(spark, rc)
    assert all(res2[s].get("skipped") for s in STEPS)
    # changed params -> manifests stale -> steps re-run
    rc2 = parse_config(_write(tmp_path / "w2.conf", f"""
out_dir: {out}
demo_urls: 12
demo_epochs: 10
demo_seed: 3
tiers: 1 hour
"""))
    res3 = step_ingest(spark, rc2)
    assert not res3.get("skipped")


def test_closure_selection_prunes_pairs(spark, tmp_path):
    """closure: 1 keeps only fixpoint-surviving edges; the pair product
    must be a subset of the closure-off network and keep its columns
    (nan_fraction rides through the refresh semi-join)."""
    def run(flag, sub):
        out = str(tmp_path / sub)
        rc = parse_config(_write(tmp_path / f"{sub}.conf", f"""
out_dir: {out}
demo_urls: 8
demo_epochs: 10
demo_seed: 5
closure: {flag}
"""))
        for step in ("ingest", "prepifg", "correct"):
            from pyrate_spark.cli import STEP_FNS
            STEP_FNS[step](spark, rc)
        return spark.read.parquet(f"{out}/correct/pairs")
    with_c = run(1, "c1")
    without = run(0, "c0")
    assert "nan_fraction" in with_c.columns
    assert 0 < with_c.count() <= without.count()


def test_stream_step_incremental_cascade(spark, tmp_path):
    """The `stream` step: availableNow maintenance passes over the
    ingest table maintain the tier cascade incrementally; once flushed
    (far-future sentinel rows advance the watermark), the streamed
    hourly tier equals the batch rollup bucket-for-bucket, and a pass
    with no new input appends nothing."""
    import datetime
    from pyspark.sql import functions as F
    from pyrate_spark.cli import STEP_FNS, step_stream
    out = str(tmp_path / "st")
    rc = parse_config(_write(tmp_path / "st.conf", f"""
out_dir: {out}
demo_urls: 10
demo_epochs: 12
demo_seed: 13
tiers: 1 hour, 1 day
stream_watermark: 0 seconds
"""))
    STEP_FNS["ingest"](spark, rc)
    step_stream(spark, rc)

    pages_path = f"{out}/ingest/pages"
    pages = spark.read.parquet(pages_path)
    mx = pages.agg(F.max("warc_ts")).first()[0]
    for days in (40, 80):
        flush_ts = mx + datetime.timedelta(days=days)
        (pages.limit(1)
         .withColumn("url", F.lit("__flush__"))
         .withColumn("warc_ts", F.lit(flush_ts))
         .write.mode("append").parquet(pages_path))
        step_stream(spark, rc)

    streamed = (spark.read.parquet(f"{out}/stream/tier_1_hour")
                .where(F.col("url") != "__flush__"))
    from pyrate_spark.operators.extract import extract_series
    from pyrate_spark.operators.rollup import tier_rollup
    batch = tier_rollup(
        extract_series(pages.where(F.col("url") != "__flush__")),
        "1 hour", thresh=rc.engine.nan_thresh)
    got = {(r["url"], r["bucket_start"]): (r["n_obs"],
                                           round(r["value_avg"] or 0, 9))
           for r in streamed.collect()}
    want = {(r["url"], r["bucket_start"]): (r["n_obs"],
                                            round(r["value_avg"] or 0, 9))
            for r in batch.collect()}
    assert got == want and len(got) > 0
    # daily cascade emitted too (flush propagates through the tiers)
    daily = (spark.read.parquet(f"{out}/stream/tier_1_day")
             .where(F.col("url") != "__flush__"))
    assert daily.count() > 0

    # no new input -> a further pass appends nothing
    before = streamed.count()
    step_stream(spark, rc)
    after = (spark.read.parquet(f"{out}/stream/tier_1_hour")
             .where(F.col("url") != "__flush__").count())
    assert after == before


def test_cli_subprocess_workflow(tmp_path):
    """`python -m pyrate_spark workflow -f conf` from a subprocess —
    the actual user entry (reference console_script `pyrate`)."""
    out = str(tmp_path / "sub")
    conf = _write(tmp_path / "s.conf", f"""
out_dir: {out}
demo_urls: 8
demo_epochs: 8
demo_seed: 11
tiers: 1 hour
parallelism: 2
shuffle_partitions: 4
""")
    env = {**os.environ, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, "-m", "pyrate_spark", "workflow", "-f", conf],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-3000:]
    manifest = json.load(open(f"{out}/merge/_MANIFEST.json"))
    assert manifest["done"] and manifest["step"] == "merge"
    assert os.path.exists(f"{out}/merge/quicklook/rate.png")
