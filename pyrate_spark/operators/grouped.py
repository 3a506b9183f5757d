"""Grouped-map pandas UDF wiring: attach the per-key numpy kernels.

Execution model (this file is where the scale design lives):

- **One keyed plan, many keys per Python call.** ``groupBy('url')``
  would give one tiny pandas frame per key — millions of Arrow
  round-trips. Instead every key's rows share one partition and the
  kernel takes a whole partition, looping keys in numpy inside the
  worker. This is the survey's prescription ("batch keys per group",
  SURVEY.md §2.5) and the reference's own tiling idea (Tile/IfgPart,
  shared.py:1135-1161) recast for Spark: partition ≈ tile. The layout
  is the input's own when it is already url-clustered and persisted
  (:func:`clustered_by_key`: zero new exchange), otherwise ONE explicit
  ``repartition(2 x shuffle partitions, key)``.

- **Explicit hot-key isolation.** A url with 100x the snapshots (the
  skew knob in FIXTURES.md F1) would dominate its partition.
  :func:`detect_hot_keys` counts keys (one cheap agg); every key above
  ``hot_factor`` x the mean row-count leaves the cold layout and gets
  a partition of its own through a per-key salt (:func:`_spread_hot`)
  — BASELINE.json's "explicit salt-based skew handling for hot urls".
  AQE's skew-join splitting cannot help a grouped-map (a key is
  indivisible); isolating hot keys restores near-uniform task sizes.

- **Null keys are one group**, as in SQL ``GROUP BY``: they always
  ride the cold side, and the kernels' ``group_slices`` treats None as
  one key.

- **No per-row Python.** Everything crosses the JVM/Python boundary as
  Arrow columns; inside, per-key slices are numpy views from a single
  argsort + boundary scan (no pandas groupby overhead).

- **Worker import hygiene.** The UDF bodies live in
  pyrate_spark.operators.udf_kernels, which does NOT import pyspark —
  fresh python workers then skip the pyspark.sql import chain on their
  first task (33 s -> <1 s cold-start on local[32], measured).

Kernel semantics and reference citations: pyrate_spark.kernels.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from pyrate_spark.config import EngineConfig, DEFAULT
from pyrate_spark.operators.udf_kernels import (
    make_linear_rate_fn, make_mst_fn, make_stack_fn, make_temporal_hp_fn,
    make_timeseries_fn, make_timeseries_rates_arrow_fn)
from pyrate_spark.operators.worker_setup import warm_worker


# --------------------------------------------------------------------------
# keyed layout
# --------------------------------------------------------------------------

def detect_hot_keys(df: DataFrame, key: str = "url",
                    hot_factor: float = 8.0) -> tuple:
    """One counting aggregation -> the (tiny, sorted) set of non-null
    keys whose row-count exceeds hot_factor x mean. Compute this ONCE
    per pipeline and thread the result through every grouped stage via
    ``hot_keys`` instead of paying a detection pass per stage. The null
    key is never hot: its group always rides the cold side.

    Default lowered 20 -> 8 (r8): per-key kernel cost is O(epochs^3),
    so a key at 19x the mean row count is ~7000x the mean COMPUTE —
    measured as a 1.5 s cold-partition straggler (3 near-hot urls sat
    just under the old 20x cut while their 20x siblings were
    isolated). Isolating a key costs one tiny dedicated task, so the
    threshold should err early; 8x keeps uniform keyspaces (the
    events table) at zero detections while catching every generated
    skew tier."""
    counts = df.groupBy(key).count()
    stats = counts.agg(F.avg("count").alias("mean")).first()
    mean = stats["mean"] or 1.0
    rows = (counts.where(F.col(key).isNotNull()
                         & (F.col("count") > F.lit(hot_factor * mean)))
            .select(key).collect())       # tiny by construction
    return tuple(sorted(r[0] for r in rows))


def clustered_by_key(df: DataFrame, key: str) -> bool:
    """True when ``df``'s physical output partitioning already hash-
    clusters rows by exactly ``key`` — i.e. every key's rows are in one
    partition and a grouped-map stage can run WITHOUT its own exchange
    (guide: two operations keyed the same way share one exchange).

    Soundness: we read the pre-AQE initial physical plan (AQE reports
    UnknownPartitioning before execution, and at runtime may only
    COALESCE reduce partitions — merging whole partitions preserves
    same-key-same-partition — or split skewed JOIN partitions, which
    never applies to the stage-output partitioning seen here). The
    partitioning must be HashPartitioning over a single
    AttributeReference whose exprId is the SAME attribute as the
    frame's ``key`` output column, so a rename / rebuild / repartition
    by anything else makes this return False and the caller lays the
    input out with its own explicit exchange.

    The frame must additionally bottom out (through Project/Filter
    only) in a PERSISTED relation: a cached plan's partition layout is
    pinned at materialisation, while an unpersisted exchange is
    re-planned per query and AQE's byte-based coalescing can legally
    collapse a small-byte but compute-heavy stage to ONE partition
    (measured: a 98k-row pair window coalesced 32 -> 1 and turned the
    python stage into a serial 7 s task — bytes are the wrong cost
    model for grouped-map compute, the same reason :func:`_keyed_layout`
    uses an explicit coalesce-exempt repartition)."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.children().head()
    if node.getClass().getSimpleName() != "InMemoryRelation":
        return False
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    part = plan.outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    exprs = part.expressions()
    if exprs.length() != 1:
        return False
    e = exprs.apply(0)
    if e.getClass().getSimpleName() != "AttributeReference" \
            or e.name() != key:
        return False
    out = qe.analyzed().output().iterator()
    while out.hasNext():
        a = out.next()
        if a.name() == key:
            return bool(a.exprId().equals(e.exprId()))
    return False


HOT = "_hot"


def _spark_hash_long(v: int) -> int:
    """Spark SQL ``hash(v)`` of a bigint ``0 <= v < 2**31``:
    Murmur3_x86_32.hashLong with seed 42 (the low word, then a zero
    high word) — the hash HashPartitioning takes ``pmod(_, n)`` of."""
    m = 0xFFFFFFFF

    def mix(h, k):
        k = (k * 0xcc9e2d51) & m
        k = ((k << 15) | (k >> 17)) & m
        h ^= (k * 0x1b873593) & m
        h = ((h << 13) | (h >> 19)) & m
        return (h * 5 + 0xe6546b64) & m

    h = mix(mix(42, v), 0) ^ 8
    h ^= h >> 16
    h = (h * 0x85ebca6b) & m
    h ^= h >> 13
    h = (h * 0xc2b2ae35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _spread_hot(hot: DataFrame, key: str, hot_keys: tuple) -> DataFrame:
    """Hash-partition the hot subset EXACTLY one key per partition, on
    a salt column ``_hot``: hot key i gets the first id whose Spark hash
    lands in partition i (:func:`_spark_hash_long`, computed on the
    driver, so choosing the salts runs no job).

    Per-key cost is O(epochs^3), so two hot keys sharing a partition
    serialise into the stage's critical path. Placement by the key
    itself cannot promise that: HASH partitioning 25 dedicated keys
    into 32 partitions put 3 keys in one (measured), and a range
    exchange draws its bounds from sampled row weights, so unequal or
    unevenly sampled keys share a range (measured: 2 of 3 equal-sized
    keys in one partition)."""
    n = len(hot_keys)
    salt, sid = {}, 0
    while len(salt) < n:
        salt.setdefault(_spark_hash_long(sid) % n, sid)
        sid += 1
    lookup = F.create_map(*[c for i, k in enumerate(hot_keys)
                            for c in (F.lit(k), F.lit(salt[i]).cast("long"))])
    return (hot.withColumn(HOT, lookup[F.col(key)])
            .repartition(n, HOT))


def _keyed_layout(df: DataFrame, key: str, detect_hot: bool,
                  hot_keys: tuple | None) -> tuple:
    """The one keyed layout: (cold, hot).

    ``cold`` holds every non-hot key, null keys included, with each
    key's rows in one partition: the input's own partitioning when
    :func:`clustered_by_key` holds, otherwise one explicit
    ``repartition(2 x shuffle partitions, key)``. The explicit count
    matters at every scale: AQE's byte-based coalescing would fold a
    small-byte but compute-heavy Python stage into one task, and a
    user-specified count is exempt from coalescing. 2 x the shuffle
    partitions keeps every core fed without task-dispatch overhead
    dominating (measured on local[32], 150k pairs); at cluster scale
    size ``spark.sql.shuffle.partitions`` so one partition's rows fit
    executor memory (~100-500 MB) — the reference's tile-sizing rule
    (shared.py:1135-1143) transplanted.

    ``hot`` is the hot subset spread one key per partition with its
    ``_hot`` salt column (:func:`_spread_hot`), or None when there are
    no hot keys. The hot subset is tiny by construction (hot_factor x
    mean), so its exchange moves only those rows.

    ``hot_keys`` supplies a precomputed hot set; otherwise
    ``detect_hot`` runs one counting aggregation over the input — worth
    it on raw skewed observations, wasted on derived frames whose
    per-key row count is bounded (e.g. inversion output: one row per
    epoch). Detection re-executes the upstream DAG when the input is
    not persisted — callers chaining grouped stages should persist the
    intermediate, pass hot_keys, or detect_hot=False."""
    if hot_keys is None:
        hot_keys = detect_hot_keys(df, key) if detect_hot else ()
    cold, hot = df, None
    if hot_keys:
        hot_list = list(hot_keys)
        cold = df.where(F.col(key).isNull() | ~F.col(key).isin(hot_list))
        hot = _spread_hot(df.where(F.col(key).isin(hot_list)), key,
                          hot_keys)
    if not clustered_by_key(df, key):
        parts = 2 * int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        cold = cold.repartition(parts, key)
    return cold, hot


def keyed_apply(df: DataFrame, key: str, fn, schema,
                detect_hot: bool = True,
                hot_keys: tuple | None = None) -> DataFrame:
    """Run a many-keys-per-frame grouped-map kernel over the one keyed
    layout (:func:`_keyed_layout`) as ONE ``mapInPandas`` over the union
    of its cold and hot partitions: ``fn`` gets one partition's rows at
    a time and slices per key itself, so partition boundaries are as
    good as group boundaries; peak worker memory is one partition's
    columns. Each hot key is a partition, and so a task, of its own:
    per-key kernel cost is superlinear in per-key observation count
    (the inversion is O(epochs^3)), so a partition that happens to hold
    several dense keys becomes a 10-20x straggler (measured: 43 s max
    vs 2 s median task)."""
    cold, hot = _keyed_layout(df, key, detect_hot, hot_keys)
    laid = cold if hot is None else cold.unionByName(hot.drop(HOT))

    def mfn(batches):
        import pandas as pd
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = (pdfs[0] if len(pdfs) == 1
               else pd.concat(pdfs, ignore_index=True))
        if len(pdf):
            yield fn(pdf)

    return laid.mapInPandas(mfn, schema)


def warm_python_workers(spark, n: Optional[int] = None) -> None:
    """Spin up the python worker pool with a no-op Arrow pass so the
    first real grouped-map stage doesn't pay the worker-spawn storm,
    and run the per-worker setup (:func:`~pyrate_spark.operators.
    worker_setup.warm_worker`, from a pyspark-free module) in each.
    On a long-lived cluster this is a non-event; in benchmarks it
    separates steady-state throughput from process startup."""
    parts = n or int(spark.conf.get("spark.sql.shuffle.partitions")) * 2
    (spark.range(parts).repartition(parts, "id").groupBy("id")
     .applyInPandas(warm_worker, "id long").count())


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

TS_SCHEMA = ("url string, epoch_id int, epoch_ts timestamp, "
             "tsvel float, tsincr float, tscuml float")

STACK_SCHEMA = "url string, rate double, error double, samples int"

LR_SCHEMA = ("url string, rate double, intercept double, rsquared double, "
             "error double, samples double")

THP_SCHEMA = ("url string, epoch_ts timestamp, value_hp double, "
              "value_lp double")

MST_SCHEMA = ("url string, ts_first timestamp, ts_second timestamp, "
              "delta_value double, time_span double, nan_fraction double, "
              "in_mst boolean")


def timeseries_per_url(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                       use_mst: bool = True,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Pairwise observations -> per-epoch incremental/cumulative series
    per url (timeseries.py:111-157 recast per key). One row per
    (url, epoch), the zero epoch included (tscuml=0)."""
    fn = make_timeseries_fn(cfg.ts_method, cfg.ts_pthr, cfg.sm_order,
                            cfg.sm_factor, use_mst,
                            getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(_ts_input(pairs, use_mst), "url", fn, TS_SCHEMA,
                       detect_hot, hot_keys)


def _ts_input(pairs: DataFrame, use_mst: bool = True) -> DataFrame:
    """Project the inversion kernels' input columns before the shuffle:
    applyInPandas ships EVERY column of its input through the exchange
    and the Arrow boundary (Catalyst cannot prune into a python UDF),
    so unused pair columns (time_span — the kernels recompute spans
    from epochs) are dead weight at 10^12 rows. ``nan_fraction`` only
    feeds the MST edge weights, so the non-MST path drops it too
    (r8; the kernel's ``_pair_arrays`` already defaults it to zeros
    when absent)."""
    keep = [c for c in ("url", "ts_first", "ts_second", "delta_value",
                        "nan_fraction", "maxvar") if c in pairs.columns]
    if not use_mst and "nan_fraction" in keep:
        keep.remove("nan_fraction")
    return pairs.select(*keep)


def stack_rate_per_url(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                       use_mst: bool = True,
                       detect_hot: bool = True,
                       hot_keys: Optional[tuple] = None) -> DataFrame:
    """Iterative WLS stacking per url (stack.py:92-165); ``error`` is
    scaled by velerror_nsig (stack.py:60)."""
    fn = make_stack_fn(cfg.nsig, cfg.pthr, float(cfg.velerror_nsig),
                       use_mst, getattr(cfg, "vcm_mode", "identity"))
    return keyed_apply(pairs, "url", fn, STACK_SCHEMA, detect_hot,
                       hot_keys)


def mask_rate_df(rates: DataFrame, maxsig: float) -> DataFrame:
    """P4 relational form (stack.py:62-89): NULL-out rate/error where
    error > maxsig."""
    bad = F.col("error") > F.lit(float(maxsig))
    return (rates
            .withColumn("rate_masked",
                        F.when(bad, None).otherwise(F.col("rate")))
            .withColumn("error_masked",
                        F.when(bad, None).otherwise(F.col("error"))))


def linear_rate_per_url(tscuml_df: DataFrame, cfg: EngineConfig = DEFAULT,
                        value_col: str = "tscuml",
                        ts_col: str = "epoch_ts") -> DataFrame:
    """Linear regression of the cumulative series per url
    (timeseries.py:292-379); input should contain the zero epoch
    (timeseries_per_url emits it, mirroring np.insert at
    timeseries.py:429). Vectorised across keys via linregress_batch;
    ``error`` scaled by velerror_nsig (timeseries.py:379). No hot pass:
    per-key rows are bounded by epoch count."""
    fn = make_linear_rate_fn(float(cfg.velerror_nsig), value_col, ts_col)
    return keyed_apply(tscuml_df, "url", fn, LR_SCHEMA, detect_hot=False)


def linear_rate_from_pairs(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                           use_mst: bool = True,
                           detect_hot: bool = True,
                           hot_keys: Optional[tuple] = None) -> DataFrame:
    """Fused pairs -> linear rates: timeseries_per_url +
    linear_rate_per_url in ONE grouped-map stage. Same output,
    bit-exact (tests/test_fused_rates.py), but the per-epoch
    intermediate (≈ epochs/pairs x smaller than the output of the
    first stage) never leaves the python worker — one exchange and one
    Arrow round trip instead of two of each. Use when only the rates
    are needed; keep the two-stage form when the time series itself is
    a product.

    Both sides of the keyed layout (:func:`_keyed_layout`) cross the
    grouped-list Arrow boundary in ONE ``mapInArrow``: each url is
    aggregated to ONE row JVM-side and shipped as
    (url, sorted list<struct(t1,t2,dv[,w][,mv])>), so each url string
    crosses once instead of per pair row. The aggregation adds no
    exchange: the cold side is clustered by url, and the hot side
    groups by (``_hot``, url) over its hash(``_hot``) layout."""
    src = _ts_input(pairs, use_mst)
    has_w = "nan_fraction" in src.columns
    has_mv = "maxvar" in src.columns
    fields = [F.unix_timestamp("ts_first").alias("t1"),
              F.unix_timestamp("ts_second").alias("t2"),
              F.col("delta_value").alias("dv")]
    if has_w:
        fields.append(F.col("nan_fraction").alias("w"))
    if has_mv:
        fields.append(F.col("maxvar").alias("mv"))
    afn = make_timeseries_rates_arrow_fn(
        cfg.ts_method, cfg.ts_pthr, cfg.sm_order, cfg.sm_factor,
        use_mst, getattr(cfg, "vcm_mode", "identity"),
        float(cfg.velerror_nsig), has_w, has_mv)

    listed = F.sort_array(F.collect_list(F.struct(*fields))).alias("_s")
    cold, hot = _keyed_layout(src, "url", detect_hot, hot_keys)
    lists = cold.groupBy("url").agg(listed)
    if hot is not None:
        lists = lists.unionByName(
            hot.groupBy(HOT, "url").agg(listed).drop(HOT))
    return lists.mapInArrow(afn, LR_SCHEMA)


def temporal_highpass_per_url(series: DataFrame,
                              cfg: EngineConfig = DEFAULT,
                              value_col: str = "value",
                              ts_col: str = "warc_ts") -> DataFrame:
    """Gaussian temporal high-pass per url on an irregular axis
    (aps.py:322-397) — the canonical data-dependent-weights window that
    Window.rangeBetween cannot express."""
    fn = make_temporal_hp_fn(cfg.tlpf_cutoff_days, cfg.tlpf_pthr,
                             value_col, ts_col)
    return keyed_apply(series, "url", fn, THP_SCHEMA, detect_hot=False)


def mst_annotate(pairs: DataFrame, cfg: EngineConfig = DEFAULT,
                 detect_hot: bool = True,
                 hot_keys: Optional[tuple] = None) -> DataFrame:
    """Annotate each observation with its key's MST membership
    (mst.py:146-170 boolean cube -> boolean column)."""
    fn = make_mst_fn()
    return keyed_apply(pairs, "url", fn, MST_SCHEMA, detect_hot,
                       hot_keys)
