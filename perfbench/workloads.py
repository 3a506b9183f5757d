"""The benchmark's two workloads, and the tier loop of ``step_merge``
that the traced run of ``crawl_delta`` measures layer by layer.

Each workload drives the engine the way a user does: parquet in and
parquet out, through the ``pyrate_spark.cli`` step functions and the
operator functions those steps call. A workload has

- ``prepare(d)``: make the inputs from the seed and run the untimed
  preparation steps into directory ``d``;
- ``op(i)``: one operation of the workload's main job;
- ``publish(i)``: a fresh reader opening every product the operation
  published (the end of the freshness interval);
- ``input_rows(i)`` and ``store_bytes_per_row(i)``: the operation's
  stated input rows and the bytes on disk of its published products
  per row;
- ``check(i)``: compare the operation's outputs with a reference and
  return the list of mismatches (empty when correct);
- ``side_ops(i)``: further operations after ``op(i)`` that count as
  attempted but not towards the main job's time;
- ``layers(probe)``: the traced run's per-layer probes — calls into
  one module's public function each, materialised under their own
  span — returning metric values and the mismatch lists of any checks.

Sizes are in :data:`SCALES`; see NOTES.md for why they are what they
are.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pyrate_spark import cli
from pyrate_spark.config import EngineConfig
from pyrate_spark.datagen import START_UNIX, generate_pages


@dataclasses.dataclass(frozen=True)
class Scale:
    inv_urls: int
    inv_epochs: int           # at a 6 h step
    delta_urls: int
    delta_days: int           # initial load; deltas follow it
    delta_slice_hours: int
    sample_urls: int          # driver-side reference sample size
    quicklook_probe_keys: int


SCALES = {
    "full": Scale(inv_urls=100, inv_epochs=24,
                  delta_urls=500, delta_days=4, delta_slice_hours=6,
                  sample_urls=8, quicklook_probe_keys=5000),
    "toy": Scale(inv_urls=40, inv_epochs=12,
                 delta_urls=40, delta_days=3, delta_slice_hours=6,
                 sample_urls=3, quicklook_probe_keys=200),
}

TIERS = ("1 hour", "1 day", "1 week")
# operations in one run at most, so that a run whose operations keep
# raising ends; crawl_delta stages this many slices
MAX_OPS = 8
# rel. tolerance of the driver-side kernel comparison: pytest.approx's
# default, which test_kernels_stack / test_kernels_timeseries use
KERNEL_RTOL = 1e-6
# streaming and batch aggregate the same rows in different orders
STREAM_RTOL = 1e-9


def _bytes_on_disk(*paths) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bucket_differs(rtol: float = STREAM_RTOL):
    """Over a join of tier buckets ``g`` with ``w`` on (url,
    bucket_start): the bucket is missing on either side, or its n_obs
    differ, or its value_avg / null_fraction differ by more than
    ``rtol`` relative."""
    def close(c):
        g, w = F.col(f"g.{c}"), F.col(f"w.{c}")
        return g.eqNullSafe(w) | (F.abs(g - w)
                                  <= F.lit(rtol) * F.abs(w) + F.lit(1e-12))
    return (F.col("g.n_obs").isNull() | F.col("w.n_obs").isNull()
            | (F.col("g.n_obs") != F.col("w.n_obs"))
            | ~close("value_avg") | ~close("null_fraction"))


def _tier_mismatches(got, want) -> int:
    """Tier buckets in only one of ``got`` and ``want``, or different
    (:func:`_bucket_differs`)."""
    j = got.alias("g").join(want.alias("w"), ["url", "bucket_start"],
                            "full")
    return j.where(_bucket_differs()).count()


def _pages(spark, n_urls, epochs, step_hours, seed):
    """0.1% hot urls (at least one, url id 0) at 20x density, 10% of
    values unparseable (NULL)."""
    return generate_pages(spark, n_urls=n_urls, epochs_per_url=epochs,
                          step_hours=step_hours,
                          hot_urls=max(n_urls // 1000, 1), hot_factor=20,
                          null_pct=10, seed=seed)


def _url(url_id: int) -> str:
    return "https://host%04d.example/p/%05d" % (url_id % 10, url_id)


def _sample_urls(seed: int, n_urls: int, k: int) -> list:
    """The hot url 0 followed by ``k`` other urls drawn from the seed."""
    ids = random.Random(seed).sample(range(1, n_urls), min(k, n_urls - 1))
    return [_url(0)] + [_url(i) for i in sorted(ids)]


def _secs(col: pd.Series) -> np.ndarray:
    return col.to_numpy().astype("datetime64[s]").astype(np.int64)


class Workload:
    name = ""
    warmup_ops = 1
    # rows_per_s divides by the freshness interval instead of job_s
    rate_over_freshness = False

    def __init__(self, spark, tracer, seed: int, scale: Scale):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.cfg = EngineConfig()
        self.d = ""             # the directory prepare() filled

    def rc(self, **kw) -> cli.RunConfig:
        return cli.RunConfig(engine=self.cfg, out_dir=f"{self.d}/run",
                             pages_path=f"{self.d}/src", **kw)

    def step(self, name: str, rc: cli.RunConfig) -> dict:
        """Run a CLI step as ``pyrate_spark <step> --force`` would, except
        ``stream``, whose --force drops its checkpoints: a user's
        periodic stream pass runs without it."""
        with self.tracer.span(f"cli.{name}"):
            return cli.STEP_FNS[name](self.spark, rc,
                                      force=name != "stream")

    def side_ops(self, i: int) -> list:
        """[(name, kind, message)] with kind "ok", "raised" or
        "mismatch"."""
        return []

    def corrupt(self, i: int) -> None:
        """Damage op ``i``'s published output (smoke test only)."""
        raise NotImplementedError


# ---------------------------------------------- step_merge's tier loop

def merge_products(out: str) -> list:
    """[plain, gorilla] parquet paths of each tier, in tier order."""
    paths = []
    for tier in TIERS:
        slug = tier.replace(" ", "_")
        paths += [f"{out}/tier_{slug}", f"{out}/tier_{slug}_gorilla"]
    return paths


def merge_tiers(spark, tracer, series, cfg: EngineConfig,
                out: str) -> None:
    """The hour -> day -> week loop ``step_merge`` runs: each tier by
    ``tier_rollup`` / ``cascade_rollup``, written, re-read and written
    again through ``encode_tier``."""
    from pyrate_spark.operators.rollup import cascade_rollup, tier_rollup
    from pyrate_spark.operators.tiersink import encode_tier
    tier_df = None
    for k, (tier, plain) in enumerate(zip(TIERS,
                                          merge_products(out)[0::2])):
        with tracer.span(f"rollup.{tier.split()[1]}"):
            tier_df = (tier_rollup(series, tier, thresh=cfg.nan_thresh)
                       if k == 0 else
                       cascade_rollup(tier_df, tier, thresh=cfg.nan_thresh))
            tier_df.write.mode("overwrite").parquet(plain)
        tier_df = spark.read.parquet(plain)
        with tracer.span("tiersink.encode"):
            encode_tier(tier_df, tier, cfg=cfg).write.mode(
                "overwrite").parquet(f"{plain}_gorilla")


def _merged_tiers(spark, out: str, decode=None):
    """The three plain tiers, or with ``decode`` the three decoded
    Gorilla tiers, as one frame tagged by tier. NaN and NULL both mean
    "no value" (the codec stores NaN and the pandas boundary turns NaN
    back into NULL), so both read as NaN here."""
    parts = []
    paths = merge_products(out)
    for tier, plain, enc in zip(TIERS, paths[0::2], paths[1::2]):
        df = (spark.read.parquet(plain) if decode is None
              else decode(spark.read.parquet(enc)))
        parts.append(df.select(
            F.lit(tier).alias("tier"), "url", "bucket_start",
            F.coalesce("value_avg", F.lit(float("nan")))
            .alias("value_avg")))
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def merge_layers(wl: "Workload", probe, out: str) -> tuple:
    """``step_prepifg`` over the workload's ingest table, then
    :func:`merge_tiers` and the layers below it, each under a span.
    Checks that every tier's Gorilla read-back equals its plain tier.
    ``rollup.cascade_vs_direct_buckets`` counts the weekly buckets whose
    cascade differs from a direct weekly rollup of the series: the
    ``step_merge`` defect NOTES.md records, measured, not gated."""
    from pyrate_spark.kernels.gorilla import encode_blocks_flat
    from pyrate_spark.operators.extract import extract_series
    from pyrate_spark.operators.rollup import tier_rollup
    from pyrate_spark.operators.tiersink import decode_tier
    sp, cfg = wl.spark, wl.cfg
    wl.step("prepifg", wl.rc())
    series = sp.read.parquet(f"{wl.d}/run/prepifg/series")
    merge_tiers(sp, wl.tracer, series, cfg, out)
    paths = merge_products(out)
    with probe("extract"):
        rows = extract_series(
            sp.read.parquet(f"{wl.d}/run/ingest/pages")).count()
    with probe("tiersink.decode"):
        _noop(decode_tier(sp.read.parquet(paths[1])))
    plain, dec = _merged_tiers(sp, out), _merged_tiers(sp, out, decode_tier)
    n = plain.exceptAll(dec).count() + dec.exceptAll(plain).count()
    errors = [f"{n} tier rows differ after Gorilla decode"] if n else []
    direct = tier_rollup(series, "1 week", thresh=cfg.nan_thresh)
    drift = _tier_mismatches(sp.read.parquet(paths[4]), direct)
    enc = [sp.read.parquet(p) for p in paths[1::2]]
    pts = sum(e.agg(F.sum("n_points")).first()[0] for e in enc)
    nbytes = sum(e.agg(F.sum("bytes_encoded")).first()[0] for e in enc)
    # codec alone on the driver over a fixed sample of hourly blocks
    sample = (sp.read.parquet(paths[0])
              .where(F.col("url").isin(wl.sample))
              .select("url", F.unix_timestamp("bucket_start").alias("t"),
                      F.coalesce("value_avg", F.lit(float("nan")))
                      .alias("v"))
              .toPandas().sort_values(["url", "t"]))
    counts = sample.groupby("url", sort=True).size().to_numpy()
    ts = np.ascontiguousarray(sample["t"].to_numpy(np.int64))
    vs = np.ascontiguousarray(sample["v"].to_numpy(np.float64))
    n_pts, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        encode_blocks_flat(ts, vs, counts)
        n_pts += len(ts)
    return {"extract.rows": rows,
            "tiersink.bytes_per_point": nbytes / max(pts, 1),
            "gorilla.points_per_s": n_pts / (time.perf_counter() - t0),
            "rollup.cascade_vs_direct_buckets": drift}, [errors]

# --------------------------------------------------------- url_inversion

class UrlInversion(Workload):
    """Per-url inversion and stacking over parquet pairs (the salted-
    bucket keyed path CLI users take), then the quicklook preview."""
    name = "url_inversion"

    def prepare(self, d: str) -> None:
        self.d = d
        s = self.scale
        _pages(self.spark, s.inv_urls, s.inv_epochs, 6,
               self.seed).write.parquet(f"{d}/src")
        rc = self.rc(closure=0, correct_order="")
        for name in ("ingest", "prepifg", "correct"):
            self.step(name, rc)
        pairs = self.spark.read.parquet(f"{d}/run/correct/pairs")
        self.rows = pairs.count()
        self.sample = _sample_urls(self.seed, s.inv_urls, s.sample_urls)
        self.sample_pairs = pairs.where(
            F.col("url").isin(self.sample)).toPandas()
        self.n_rates = pairs.select("url").distinct().count()
        self.reference = None
        self.preview_failures = 0

    def op(self, i: int) -> None:
        rc = self.rc(closure=0, correct_order="")
        self.step("timeseries", rc)
        self.step("stack", rc)

    def _products(self) -> list:
        return [f"{self.d}/run/timeseries/tscuml", f"{self.d}/run/stack/rates"]

    def publish(self, i: int) -> None:
        for p in self._products():
            self.spark.read.parquet(p).count()

    def input_rows(self, i: int) -> int:
        return self.rows

    def store_bytes_per_row(self, i: int) -> float:
        return _bytes_on_disk(*self._products()) / self.rows

    def _kernels(self):
        from pyrate_spark.operators.udf_kernels import (make_stack_fn,
                                                        make_timeseries_fn)
        c = self.cfg
        ts = make_timeseries_fn(c.ts_method, c.ts_pthr, c.sm_order,
                                c.sm_factor, True, c.vcm_mode)
        st = make_stack_fn(c.nsig, c.pthr, float(c.velerror_nsig), True,
                           c.vcm_mode)
        return ts, st

    def check(self, i: int) -> list:
        """For the fixed url sample (one hot url included), the step
        outputs equal the kernels run on the driver."""
        if self.reference is None:
            ts_fn, st_fn = self._kernels()
            self.reference = (ts_fn(self.sample_pairs),
                              st_fn(self.sample_pairs))
        ref_ts, ref_st = self.reference
        sp = self.spark
        got_ts = (sp.read.parquet(self._products()[0])
                  .where(F.col("url").isin(self.sample)).toPandas())
        got_st = (sp.read.parquet(self._products()[1])
                  .where(F.col("url").isin(self.sample)).toPandas())
        errors = []
        key = ["url", "epoch_id"]
        a = ref_ts.sort_values(key).reset_index(drop=True)
        b = got_ts.sort_values(key).reset_index(drop=True)
        if len(a) != len(b) or not (a[key] == b[key]).all().all():
            errors.append(f"timeseries rows {len(b)} != reference {len(a)}")
        else:
            for col in ("tsincr", "tscuml", "tsvel"):
                if not np.allclose(b[col], a[col], rtol=KERNEL_RTOL,
                                   atol=0, equal_nan=True):
                    errors.append(f"timeseries {col} differs from kernel")
        a = ref_st.sort_values("url").reset_index(drop=True)
        b = got_st.sort_values("url").reset_index(drop=True)
        if list(a["url"]) != list(b["url"]):
            errors.append("stack url set differs from kernel")
        else:
            for col in ("rate", "error"):
                if not np.allclose(b[col], a[col], rtol=KERNEL_RTOL,
                                   atol=0, equal_nan=True):
                    errors.append(f"stack {col} differs from kernel")
            if not (a["samples"].to_numpy() == b["samples"].to_numpy()).all():
                errors.append("stack samples differ from kernel")
        return errors

    def corrupt(self, i: int) -> None:
        p = self._products()[1]
        df = self.spark.read.parquet(p)
        df.withColumn("rate", F.col("rate") * F.lit(2.0)) \
          .write.mode("overwrite").parquet(p + "_c")
        shutil.rmtree(p)
        os.rename(p + "_c", p)

    def preview(self, rates, out_dir: str) -> dict:
        """What ``step_merge`` renders: the maxsig-masked rate, or the
        raw rate when the mask removed everything."""
        from pyrate_spark.operators.quicklook import quicklook_sink, rate_grid
        n_masked = rates.where(
            F.col("rate_masked").isNotNull()).limit(1).count()
        vcol = "rate_masked" if n_masked else "rate"
        return quicklook_sink(rate_grid(rates, value_col=vcol), out_dir,
                              "rate")

    def side_ops(self, i: int) -> list:
        """The preview over the fresh rates. A raise counts as a failed
        operation; it is not retried or avoided (see NOTES.md, rate_grid
        defect)."""
        rates = self.spark.read.parquet(self._products()[1])
        try:
            with self.tracer.span("quicklook"):
                stats = self.preview(rates, f"{self.d}/ops/{i}/quicklook")
        except Exception:
            self.preview_failures += 1
            return [("preview", "raised", traceback.format_exc())]
        if stats["n_pixels"] != self.n_rates:
            return [("preview", "mismatch", f"{stats['n_pixels']} pixels "
                                            f"for {self.n_rates} rates")]
        return [("preview", "ok", "")]

    def layers(self, probe) -> tuple:
        from pyrate_spark.operators.grouped import (detect_hot_keys,
                                                    timeseries_per_url)
        from pyrate_spark.sources.tables import exchange_count
        sp = self.spark
        pairs = sp.read.parquet(f"{self.d}/run/correct/pairs")
        with probe("grouped.detect"):
            hot = detect_hot_keys(pairs)
        out = {"grouped.hot_keys": len(hot),
               "grouped.exchanges": exchange_count(
                   timeseries_per_url(pairs, self.cfg))}
        ts_fn, st_fn = self._kernels()
        n_keys = self.sample_pairs["url"].nunique()
        for name, fn in (("timeseries", ts_fn), ("stack", st_fn)):
            n, t0 = 0, time.perf_counter()
            while n == 0 or time.perf_counter() - t0 < 0.3:
                fn(self.sample_pairs)
                n += n_keys
            out[f"{name}.keys_per_s"] = n / (time.perf_counter() - t0)
        # the rate_grid defect at the size it was reported at: a
        # per-key frame of quicklook_probe_keys rows read from 16 files
        k = self.scale.quicklook_probe_keys
        probe_dir = f"{self.d}/quicklook_probe"
        (sp.range(k).select(F.format_string("key%07d", "id").alias("url"),
                            (F.col("id") % 97).cast("double").alias("rate"),
                            F.lit(None).cast("double").alias("rate_masked"))
         .repartition(16).write.mode("overwrite").parquet(probe_dir))
        fails = 0
        for a in range(4):
            try:
                self.preview(sp.read.parquet(probe_dir),
                             f"{probe_dir}_out{a}")
            except ValueError:
                fails += 1
        out["quicklook.probe_failures"] = fails
        out["quicklook.failures"] = self.preview_failures
        closure_out, checks = self._closure_layers(probe)
        out.update(closure_out)
        return out, checks

    def _closure_layers(self, probe) -> tuple:
        """The correct step at the default config (corrections, pair
        network, closure fixpoint), one layer per span, then the whole
        step; the closure survivors of a fixed url sample are checked
        against ``closure_reference``."""
        from pyrate_spark.operators.corrections import closure_fixpoint
        from pyrate_spark.operators.pairs import network_pairs
        from pyrate_spark.plans.pipeline import run_correct
        sp, c = self.spark, self.cfg
        rc = self.rc()
        series = sp.read.parquet(f"{self.d}/run/prepifg/series")
        corrected = f"{self.d}/layers/corrected"
        with probe("corrections.series"):
            run_correct(series, c, rc.order()).write.mode(
                "overwrite").parquet(corrected)
        pairs_dir = f"{self.d}/layers/pairs"
        with probe("pairs.network"):
            network_pairs(sp.read.parquet(corrected),
                          max_span_days=c.max_pair_span_days,
                          max_pairs_per_epoch=c.max_pairs_per_epoch) \
                .write.mode("overwrite").parquet(pairs_dir)
        pairs = sp.read.parquet(pairs_dir)
        n_pairs = pairs.count()
        kept_dir = f"{self.d}/layers/kept"
        with probe("corrections.closure"):
            closure_fixpoint(pairs, c).write.mode("overwrite").parquet(
                kept_dir)
        kept = sp.read.parquet(kept_dir)
        agg = kept.agg(F.count(F.lit(1)).alias("n"),
                       F.max("n_iter").alias("it")).first()
        sample_urls = self.sample[1:]          # the hot url aside
        sample = pairs.where(F.col("url").isin(sample_urls)).toPandas()
        want = closure_reference(sample, c)
        got = (kept.where(F.col("url").isin(sample_urls))
               .select("url", "ts_first", "ts_second").toPandas())
        got = set(zip(got["url"], _secs(got["ts_first"]).tolist(),
                      _secs(got["ts_second"]).tolist()))
        errors = ([] if got == want else
                  [f"closure survivors differ: {len(got - want)} extra, "
                   f"{len(want - got)} missing"])
        n, t0 = 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < 0.3:
            closure_reference(sample, c)
            n += len(sample_urls)
        closure_kps = n / (time.perf_counter() - t0)
        # last: the step as users run it (overwrites this run's pairs)
        self.step("correct", rc)
        return {"pairs.rows": n_pairs,
                "corrections.closure_iters": agg["it"] or 0,
                "corrections.closure_kept_frac": agg["n"] / max(n_pairs, 1),
                "closure.keys_per_s": closure_kps}, [errors]


# ------------------------------------------------- closure reference

def closure_reference(pairs: pd.DataFrame, cfg: EngineConfig) -> set:
    """Surviving (url, ts_first, ts_second) of the iterative closure
    check, run per url on the driver with ``kernels.closure``."""
    from collections import defaultdict
    from pyrate_spark.kernels.closure import (
        closed_loops, discard_loops_containing_max_ifg_count, sum_closure)
    first, second = _secs(pairs["ts_first"]), _secs(pairs["ts_second"])
    vals = pairs["delta_value"].to_numpy(np.float64)
    urls = pairs["url"].to_numpy()
    keep_all = set()
    for url in sorted(set(urls)):
        idx = np.flatnonzero(urls == url)
        idx = idx[np.lexsort((second[idx], first[idx]))]
        keep = list(idx)
        while True:
            fs = [int(first[j]) for j in keep]
            ss = [int(second[j]) for j in keep]
            loops = discard_loops_containing_max_ifg_count(
                closed_loops(fs, ss, max_loop_length=cfg.max_loop_length),
                cfg.max_loop_redundancy)
            if not loops:
                break
            values: dict = {}
            for j in keep:
                values.setdefault((int(first[j]), int(second[j])), vals[j])
            nl, nb = defaultdict(int), defaultdict(int)
            for loop in loops:
                _, breach = sum_closure(loop, values, subtract_median=False,
                                        thr=cfg.closure_thr)
                for e in loop.edges:
                    nl[(e.first, e.second)] += 1
                    nb[(e.first, e.second)] += int(bool(breach))
            new_keep = []
            for j in keep:
                k = (int(first[j]), int(second[j]))
                n = nl.get(k, 0)
                if n < 1:
                    continue
                frac = 1.0 if nb.get(k, 0) == n else 0.0
                if n > cfg.min_loops_per_ifg and frac > cfg.ifg_drop_thr:
                    continue
                new_keep.append(j)
            if len(new_keep) == len(keep):
                break
            keep = new_keep
        keep_all.update((url, int(first[j]), int(second[j])) for j in keep)
    return keep_all


# ----------------------------------------------------------- crawl_delta

LATE_PCT = 5
LATE_S = 86400


class CrawlDelta(Workload):
    """Crawl slices landing on the ingest table, absorbed in order:
    streaming tiers, backfill of the raw and tier stores, compaction and
    expiry. 5% of each slice's rows are a day late. Operation ``i``
    absorbs slice ``i``; slice 0 comes with the initial load."""
    name = "crawl_delta"
    # op 0 also absorbs the initial load
    warmup_ops = 1
    rate_over_freshness = True

    KEEP_DAYS = 3
    MAX_FILES_PER_DAY = 4

    def _late(self):
        return (F.pmod(F.xxhash64("url", "warc_ts", F.lit(self.seed)),
                       F.lit(100)) < F.lit(LATE_PCT))

    def prepare(self, d: str) -> None:
        from perfbench.trace import stream_listener
        from pyrate_spark.operators.extract import extract_series
        from pyrate_spark.operators.rollup import tier_rollup
        from pyrate_spark.plans.backfill import (write_raw_store,
                                                 write_tier_store)
        self.d = d
        s = self.scale
        sp = self.spark
        self.sample = _sample_urls(self.seed, s.delta_urls, s.sample_urls)
        self.t0 = START_UNIX + s.delta_days * 86400
        self.slice_s = s.delta_slice_hours * 3600
        epochs = (s.delta_days * 24 + MAX_OPS * s.delta_slice_hours) // 2 + 1
        pages = _pages(sp, s.delta_urls, epochs, 2, self.seed)
        arrival = (F.unix_timestamp("warc_ts")
                   + F.when(self._late(), F.lit(LATE_S)).otherwise(0))
        slice_id = F.when(arrival < F.lit(self.t0), F.lit(-1)).otherwise(
            F.floor((arrival - F.lit(self.t0)) / F.lit(self.slice_s)))
        (pages.withColumn("slice", slice_id.cast("int"))
         .where(F.col("slice") < F.lit(MAX_OPS))
         .write.partitionBy("slice").parquet(f"{d}/staging"))
        # rows per (slice, day): the raw store's expected content
        self.slice_rows = {
            (r["slice"], str(r["day"])): r["n"] for r in
            sp.read.parquet(f"{d}/staging").groupBy(
                "slice", F.to_date("warc_ts").alias("day")).agg(
                F.count(F.lit(1)).alias("n")).collect()}
        self.day_rows = {day: n for (sl, day), n in self.slice_rows.items()
                         if sl == -1}
        # the initial load lands in the ingest table like every slice;
        # op 0's stream pass absorbs it together with slice 0
        os.makedirs(f"{d}/run/ingest")
        shutil.move(f"{d}/staging/slice=-1", f"{d}/run/ingest/pages")
        pages0 = sp.read.parquet(f"{d}/run/ingest/pages")
        series0 = extract_series(pages0)
        write_raw_store(series0, f"{d}/raw")
        write_tier_store(tier_rollup(series0, "1 hour",
                                     thresh=self.cfg.nan_thresh),
                         f"{d}/tier")
        self.frontier = self.t0
        self.results: dict = {}
        self.landed: dict = {}
        # progress events of the stream passes, for the traced run
        self.listener = stream_listener(sp) if self.tracer.enabled else None
        self.first_event = 0

    def land(self, i: int) -> None:
        """The crawler's write: move slice ``i``'s staged files into the
        ingest pages table."""
        src = f"{self.d}/staging/slice={i}"
        dst = f"{self.d}/run/ingest/pages"
        self.landed[i] = []
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                os.rename(f"{src}/{f}", f"{dst}/slice{i:03d}-{f}")
                self.landed[i].append(f"{dst}/slice{i:03d}-{f}")

    def op(self, i: int) -> None:
        from pyrate_spark.operators.extract import extract_series
        from pyrate_spark.plans.backfill import backfill_tier
        from pyrate_spark.plans.retention import (compact_day_store,
                                                  expire_day_store)
        sp, d = self.spark, self.d
        self.land(i)
        self.step("stream", self.rc())
        rows = extract_series(sp.read.parquet(*self.landed[i]),
                              cluster_by_url=False)
        with self.tracer.span("backfill"):
            days = backfill_tier(sp, rows, f"{d}/raw", f"{d}/tier",
                                 "1 hour", self.cfg.nan_thresh)
        self.frontier = self.t0 + (i + 1) * self.slice_s
        now = dt.datetime.utcfromtimestamp(self.frontier)
        with self.tracer.span("retention.compact"):
            comp = [compact_day_store(sp, f"{d}/{s}",
                                      max_files_per_day=self.MAX_FILES_PER_DAY,
                                      min_age_days=1, now_ts=now)
                    for s in ("raw", "tier")]
        with self.tracer.span("retention.expire"):
            for s in ("raw", "tier"):
                expire_day_store(sp, f"{d}/{s}", self.KEEP_DAYS, now)
        for (sl, day), n in self.slice_rows.items():
            if sl == i:
                self.day_rows[day] = self.day_rows.get(day, 0) + n
        self.results[i] = {"days": days, "compact": comp, "now": now}

    def _expected_raw_rows(self, i: int) -> int:
        from pyrate_spark.plans.retention import policy_cutoff_day
        cut = policy_cutoff_day(self.results[i]["now"], self.KEEP_DAYS)
        return sum(n for day, n in self.day_rows.items() if day >= cut)

    def _stream_paths(self) -> list:
        return [f"{self.d}/run/stream/tier_{tier.replace(' ', '_')}"
                for tier in TIERS]

    def publish(self, i: int) -> None:
        sp = self.spark
        self.raw_rows = sp.read.parquet(f"{self.d}/raw").count()
        sp.read.parquet(f"{self.d}/tier").count()
        for p in self._stream_paths():
            sp.read.parquet(p).count()

    def input_rows(self, i: int) -> int:
        return sum(n for (sl, _), n in self.slice_rows.items() if sl == i)

    def store_bytes_per_row(self, i: int) -> float:
        """raw + tier stores after compaction, per raw-store row"""
        return (_bytes_on_disk(f"{self.d}/raw", f"{self.d}/tier")
                / self.raw_rows)

    def check(self, i: int) -> list:
        """The raw store holds exactly the rows appended and not yet
        expired; the tier store equals a batch rollup of the raw store;
        every finalised streaming hour bucket equals the batch
        ``tier_rollup`` of the rows the stream accepted (late rows are
        behind its watermark and dropped by contract), and every bucket
        behind the previous pass's watermark was emitted."""
        from pyrate_spark.operators.extract import extract_series
        from pyrate_spark.operators.rollup import tier_rollup
        sp, d = self.spark, self.d
        errors = []
        want = self._expected_raw_rows(i)
        if self.raw_rows != want:
            errors.append(f"raw store has {self.raw_rows} rows, "
                          f"expected {want}")
        raw = sp.read.parquet(f"{d}/raw").drop("_day")
        batch = tier_rollup(raw, "1 hour", thresh=self.cfg.nan_thresh)
        tier = sp.read.parquet(f"{d}/tier").drop("_day")
        n = _tier_mismatches(tier, batch)
        if n:
            errors.append(f"tier store differs from rollup of raw: {n} rows")
        # slice 0 is in the stream's first batch, before any watermark:
        # only the late rows of slices 1.. are behind one
        pages = sp.read.parquet(f"{d}/run/ingest/pages")
        accepted = pages.where(~(self._late() & (
            F.unix_timestamp("warc_ts") + F.lit(LATE_S)
            >= F.lit(self.t0 + self.slice_s))))
        want_b = tier_rollup(extract_series(accepted), "1 hour",
                             thresh=self.cfg.nan_thresh)
        # buckets behind the previous pass's watermark (slice end minus
        # the 2 h watermark minus up to 1 h of epoch jitter) must all
        # have been emitted
        settled = self.frontier - self.slice_s - 4 * 3600
        got = sp.read.parquet(self._stream_paths()[0])
        emitted = F.col("g.n_obs").isNotNull()
        r = (got.alias("g")
             .join(want_b.alias("w"), ["url", "bucket_start"], "full")
             .agg(F.sum((emitted & _bucket_differs()).cast("int"))
                  .alias("bad"),
                  F.sum((~emitted & (F.unix_timestamp("bucket_start")
                                     + 3600 <= F.lit(settled)))
                        .cast("int")).alias("missing"))
             .first())
        if r["bad"]:
            errors.append(f"{r['bad']} streaming hour buckets differ "
                          f"from batch")
        if r["missing"]:
            errors.append(f"{r['missing']} finalised hour buckets not "
                          f"emitted")
        if self.listener is not None and i == self.warmup_ops - 1:
            # events of the timed ops follow; progress events reach the
            # listener asynchronously, and one stream pass is three
            # queries
            _wait(lambda: self.listener.terminated >= 3 * (i + 1))
            self.first_event = len(self.listener.progress)
        return errors

    def corrupt(self, i: int) -> None:
        """Drop one data file of the raw store."""
        day = sorted(e for e in os.listdir(f"{self.d}/raw")
                     if e.startswith("_day="))[-1]
        f = sorted(e for e in os.listdir(f"{self.d}/raw/{day}")
                   if e.endswith(".parquet"))[0]
        os.remove(f"{self.d}/raw/{day}/{f}")

    def layers(self, probe) -> tuple:
        """Stream, backfill and retention metrics of the timed ops, then
        ``step_merge``'s tier loop over the ingest table
        (:func:`merge_layers`)."""
        listener = self.listener
        n_ops = len(self.results)
        _wait(lambda: listener.terminated >= 3 * n_ops)
        self.spark.streams.removeListener(listener)
        events = listener.progress[self.first_event:]
        stateful = [e for e in events if e["has_state"]]
        last = {e["id"]: e["state_rows"] for e in stateful}
        timed = [r for i, r in self.results.items() if i >= self.warmup_ops]
        before = sum(fb for r in timed for c in r["compact"]
                     for fb, _ in c["compacted"].values())
        after = sum(fa for r in timed for c in r["compact"]
                    for _, fa in c["compacted"].values())
        out = {
            "stream.trigger_s": statistics.median(
                e["trigger_ms"] / 1e3 for e in events if e["input_rows"]),
            "stream.state_commit_ms": statistics.median(
                e["commit_ms"] for e in stateful),
            "stream.state_rows": sum(last.values()),
            "backfill.days": statistics.median(r["days"] for r in timed),
            "retention.files_before": before / len(timed),
            "retention.files_after": after / len(timed),
            "retention.aborted": sum(len(c["aborted"]) for r in timed
                                     for c in r["compact"]),
        }
        merge_out, checks = merge_layers(self, probe, f"{self.d}/merge")
        out.update(merge_out)
        return out, checks


def _wait(done, timeout_s: float = 10.0) -> None:
    deadline = time.time() + timeout_s
    while not done() and time.time() < deadline:
        time.sleep(0.1)


WORKLOADS = {w.name: w for w in (UrlInversion, CrawlDelta)}
