"""Column profiling: the stats layer a data pipeline runs before training.

Two tiers, same shape as the dedup/similarity families:

  column_profile   exact per-column stats (count/nulls/distinct/min/max/
                   median) — the correctness baseline, oracle-checkable.
  approx_profile   sketch-based: HyperLogLog distinct + approximate
                   percentiles. The 100 TB path — one pass, fixed memory,
                   no exact-distinct shuffle of the full key space. Not
                   SQL-oracle-checkable (sketch internals differ per
                   engine); tested by accuracy bounds instead.

The reference's only statistics are partition-level (numRows/rawSize,
common/HiveStats.java:34-108) — column profiling is an engine extension
(SURVEY §2.2: no aggregations exist in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_profile(
    df: DataFrame, numeric_col: str, key_col: str
) -> DataFrame:
    """Exact one-row profile of (key cardinality, numeric distribution).

    Deliberately exact so the DuckDB oracle can verify it; swap to
    approx_profile at scale. Median = exact interpolated percentile
    (identical definition to DuckDB's quantile_cont).
    """
    v = F.col(numeric_col)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count(v)).alias("n_null"),
        F.countDistinct(F.col(key_col)).alias("n_distinct_keys"),
        F.round(F.min(v), 6).alias("min_value"),
        F.round(F.max(v), 6).alias("max_value"),
        F.round(
            F.sum(v.cast("decimal(18,4)")).cast("double"), 6
        ).alias("sum_value"),
        F.round(F.expr(f"percentile({numeric_col}, 0.5)"), 6).alias("median_value"),
    )


def numeric_outliers(
    df: DataFrame,
    numeric_col: str,
    id_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Rows whose value is more than ``z`` sample standard deviations from
    the mean — the standard data-quality outlier gate before training.

    Two-stage shape: one exact aggregate (decimal sum and sum-of-squares,
    so the moments are order-independent and engine-identical), then the
    1-row stats broadcast back onto the scan as a cross join — the filter
    itself is a pure map over the data, no second shuffle. Returns
    (id, value, zscore) ordered by id.
    """
    # decimal(18,6): product stays at (37,12) < 38 in BOTH engines, so the
    # sums are exact (never capped/rounded) and the double moments identical
    v = F.col(numeric_col)
    dec = v.cast("decimal(18,6)")
    stats = df.agg(
        F.count(v).alias("_n"),
        F.sum(dec).cast("double").alias("_sum"),
        F.sum(dec * dec).cast("double").alias("_sumsq"),
    )
    # sample variance from exact sums: (sumsq - sum^2/n) / (n-1)
    stats = stats.select(
        "_n",
        (F.col("_sum") / F.col("_n")).alias("_mean"),
        F.sqrt(
            F.try_divide(
                F.col("_sumsq") - F.col("_sum") * F.col("_sum") / F.col("_n"),
                F.col("_n") - 1,
            )
        ).alias("_std"),
    )
    zscore = F.round(F.try_divide(v - F.col("_mean"), F.col("_std")), 6)
    return (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col).alias("id"),
            v.alias("value"),
            zscore.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > z)
    )


def approx_profile(
    df: DataFrame, numeric_col: str, key_col: str, rsd: float = 0.05
) -> DataFrame:
    """Sketch-based profile: HLL++ distinct (relative std dev ``rsd``) and
    approximate percentiles (25/50/75). One pass, bounded memory per
    partition, map-side combinable — this is what actually runs at 100 TB.
    """
    v = F.col(numeric_col)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(F.col(key_col), rsd).alias("approx_distinct_keys"),
        F.percentile_approx(v, [0.25, 0.5, 0.75], 10_000).alias("approx_quartiles"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def group_percentiles(
    df: DataFrame,
    numeric_col: str = "value",
    group_col: str = "event_type",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated percentiles of ``numeric_col`` per group — the
    latency/value-distribution table (p50/p90/p99) every event pipeline
    publishes.

    percentile() sorts within each group after ONE shuffle on the group
    key; with a handful of groups and 100 TB of rows the per-group sort is
    the cost — the approx_profile sketch tier is the scale alternative
    when exactness isn't required (this operator is the oracle-checkable
    baseline, interpolation identical to DuckDB's quantile_cont).
    Returns (group, n, p<percentile>...).
    """
    v = F.col(numeric_col)
    aggs = [F.count(v).alias("n")]
    for p in percentiles:
        # collision-proof labels: 0.5 -> p50, 0.995 -> p99_5 (plain
        # round(p*100) would alias 0.995 and 0.999 both to 'p100')
        name = "p" + f"{p * 100:g}".replace(".", "_")
        aggs.append(
            F.round(F.expr(f"percentile({numeric_col}, {p})"), 6).alias(name)
        )
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(*aggs)
    )


def value_decile_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile (or any n-quantile) histogram of a numeric column: bucket
    boundaries at the exact interpolated quantiles, then per-bucket count /
    min / max / sum.

    Deliberately NOT ntile(): a global ntile is a window over ONE
    partition — the whole table funnels through a single task, the
    canonical 100 TB anti-pattern. Instead the boundaries are a one-row
    aggregate (percentile over one shuffle), broadcast back onto the scan;
    bucket assignment is then a pure map (count values > boundary) and the
    histogram is a tiny second aggregate. Rows equal to a boundary fall in
    the lower bucket. Returns (decile, n_rows, min_value, max_value,
    sum_value), ordered by decile (an n_buckets-row sort).
    """
    v = F.col(value_col)
    fracs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = df.agg(
        F.expr(f"percentile({value_col}, array({fracs}))").alias("_bs")
    )
    decile = (
        F.lit(1)
        + F.size(F.filter(F.col("_bs"), lambda b: v > b))
    ).alias("decile")
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(decile, v.alias("_v"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("_v"), 6).alias("min_value"),
            F.round(F.max("_v"), 6).alias("max_value"),
            F.sum(F.col("_v").cast("decimal(14,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("decile")
    )


def expanding_zscore(
    events: DataFrame,
    z: float = 3.0,
    min_prior: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key expanding-window anomaly flags: each event scored against
    the sample mean/std of the SAME user's prior values.

    Batch twin of streaming/anomaly.py (identical flagged set on closed
    input): prefix sums run in exact integer fixed-point (e4) accumulated
    in DECIMAL — order-independent and overflow-free — then one fixed
    double-op sequence produces the z-score, so stream, batch, and the
    DuckDB oracle agree bit-for-bit. One shuffle (partition by user) +
    an ordered window; rows with fewer than ``min_prior`` priors or zero
    prior variance are unflaggable by definition.
    Returns (event_id, user_id, n_prior, zscore) ordered by event_id.
    """
    from pyspark.sql import Window as W

    from hive_io_experimental_spark.operators.relational import (
        ensure_event_time,
    )

    ev = ensure_event_time(events, ts_col)
    base = ev.select(
        "event_id",
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
        (F.col(value_col).cast("decimal(14,4)") * 10_000)
        .cast("long")
        .alias("_ve4"),
    ).filter(F.col("_ve4").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    n = F.count("_ve4").over(w)
    s_d = F.sum(F.col("_ve4").cast("decimal(18,0)")).over(w).cast("double")
    s2_d = (
        F.sum(
            F.col("_ve4").cast("decimal(19,0)")
            * F.col("_ve4").cast("decimal(19,0)")
        )
        .over(w)
        .cast("double")
    )
    mean = s_d / n
    var = (s2_d - (s_d * s_d) / n) / (n - 1)
    zscore = F.round(
        (F.col("_ve4").cast("double") - mean) / F.sqrt(var), 6
    )
    return (
        base.select(
            "event_id",
            "user_id",
            n.alias("n_prior"),
            F.when((n >= min_prior) & (var > 0), zscore).alias("_z"),
        )
        .filter(F.abs(F.col("_z")) > z)
        .select("event_id", "user_id", "n_prior",
                F.col("_z").alias("zscore"))
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle/join key.

    The pre-flight check every 100 TB join or aggregation wants: per-key
    row counts, reduced to the ``top_k`` heaviest keys with their share of
    the table and their ratio to the mean key size. A `skew_vs_avg` in the
    hundreds says "salt this key or let AQE split it" BEFORE the job ships;
    the reference has no analog (its stats surface is table-level rawSize,
    HiveStats) — this is the engine's own scale tooling.

    Plan shape: ONE groupBy(key) count (map-side partial aggregation
    collapses hot keys per partition, so the shuffle carries at most
    |partitions| x |distinct keys in partition| rows, never the raw table),
    a single-row global summary broadcast back over the top-k rows. The
    global top-k is computed with a single ORDER BY ... LIMIT on the
    (already aggregated, small) per-key counts — Spark's TakeOrdered, no
    full sort. Ties break toward the smaller key string so the result is
    deterministic and oracle-stable.

    Returns (rank, key, n_rows, share, skew_vs_avg), rank 1 = heaviest.
    """
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    top = (
        counts.orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_k)
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6
            ).alias("skew_vs_avg"),
        )
    )


def robust_outliers(
    df: DataFrame,
    numeric_col: str,
    id_col: str,
    z: float = 3.5,
) -> DataFrame:
    """Rows whose value is an outlier by the robust (median/MAD) criterion.

    mean/std outlier gates (numeric_outliers) break down exactly when
    outliers are worst — a few extreme values inflate the std until
    nothing trips the gate (masking). The robust variant uses the median
    and the Median Absolute Deviation: modified z = 0.6745 * (v - median)
    / MAD (Iglewicz-Hoaglin), flagged when |z| > 3.5. Both statistics have
    a 50% breakdown point, so the gate holds no matter how wild the tail.

    Plan shape: exact interpolated percentile (same definition both
    engines: quantile_cont) computed twice — median of values, then median
    of absolute deviations — each a single aggregate; the 1-row stats
    broadcast back over the scan, the filter a pure map. Two passes over
    the column is the price of exactness; at 100 TB swap in
    approx_percentile with the same plan shape.

    Returns (id, value, robust_z) ordered by id; empty when MAD = 0
    degenerates (over half the values identical) — the caller should fall
    back to numeric_outliers then.
    """
    v = F.col(numeric_col)
    med = df.agg(
        F.expr(f"percentile({numeric_col}, 0.5)").alias("_med")
    )
    mad = (
        df.crossJoin(F.broadcast(med))
        .select(F.abs(v - F.col("_med")).alias("_ad"), "_med")
        .groupBy("_med")
        .agg(F.expr("percentile(_ad, 0.5)").alias("_mad"))
    )
    rz = F.round(
        F.try_divide(F.lit(0.6745) * (v - F.col("_med")), F.col("_mad")), 6
    )
    return (
        df.crossJoin(F.broadcast(mad))
        .select(
            F.col(id_col).alias("id"),
            v.alias("value"),
            rz.alias("robust_z"),
        )
        .filter(F.abs(F.col("robust_z")) > z)
    )


def histogram_drift(
    ref_state: DataFrame, cur_state: DataFrame
) -> DataFrame:
    """Population Stability Index between two histogram-tier states
    (operators/incremental.py hourly_histogram_state shape): per
    event_type, PSI = Σ_b (p_cur − p_ref) · ln(p_cur / p_ref) over the
    union of occupied buckets, add-one smoothed so one-sided buckets stay
    finite: p = (n_b + 1) / (N + B), B = union bucket count.

    The drift monitor a training pipeline runs between a reference
    corpus/window and the current one — PSI < 0.1 is conventionally
    stable, > 0.25 drifted. Because the inputs are the MERGEABLE
    histogram states, drift over any time range is a state read, not an
    event re-scan: O(types × buckets) work on pre-aggregated integers.
    Determinism: per-bucket contributions round to 6 and sum as exact
    DECIMAL(18,6) (order-independent hash); counts are exact integers.
    Returns (event_type, n_buckets, n_ref, n_cur, psi) ordered.
    """
    r = ref_state.groupBy("event_type", "bucket").agg(
        F.sum("n").cast("long").alias("nr")
    )
    c = cur_state.groupBy("event_type", "bucket").agg(
        F.sum("n").cast("long").alias("nc")
    )
    joined = r.join(c, ["event_type", "bucket"], "full").select(
        "event_type",
        "bucket",
        F.coalesce("nr", F.lit(0)).alias("nr"),
        F.coalesce("nc", F.lit(0)).alias("nc"),
    )
    w = Window.partitionBy("event_type")
    per = joined.select(
        "event_type",
        "bucket",
        "nr",
        "nc",
        F.count(F.lit(1)).over(w).alias("_b"),
        F.sum("nr").over(w).alias("_tr"),
        F.sum("nc").over(w).alias("_tc"),
    )
    pr = (F.col("nr") + 1) / (F.col("_tr") + F.col("_b"))
    pc = (F.col("nc") + 1) / (F.col("_tc") + F.col("_b"))
    contrib = per.select(
        "event_type",
        "nr",
        "nc",
        F.round((pc - pr) * F.log(pc / pr), 6)
        .cast("decimal(18,6)")
        .alias("_psi"),
    )
    return (
        contrib.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("nr").cast("long").alias("n_ref"),
            F.sum("nc").cast("long").alias("n_cur"),
            F.sum("_psi").cast("double").alias("psi"),
        )
    )


def series_correlation(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Pearson correlation between every pair of event types' hourly
    count series — the "do purchases track clicks?" diagnostic.

    The hour × type grid is completed with zeros first (a silent hour IS
    a data point; correlating only co-active hours overstates coupling),
    then each unordered type pair joins on the hour key — shuffle volume
    is series-length × pairs, state-sized, never event-sized, because
    counts are pre-aggregated before the pair join.

    Every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT, so the
    final Pearson formula is one deterministic double expression per
    pair, rounded to 6. Returns (type_a, type_b, n_hours, corr) ordered;
    corr is NULL for a constant series (zero variance).
    """
    from hive_io_experimental_spark.operators.relational import (
        ensure_event_time,
    )

    ev = ensure_event_time(events, ts_col)
    hour_epoch = (
        F.expr(f"unix_micros({ts_col}) div 3600000000") * F.lit(3600)
    ).alias("hour_epoch")
    counts = ev.groupBy(hour_epoch, F.col("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    hours = counts.select("hour_epoch").distinct()
    types = counts.select("event_type").distinct()
    grid = (
        hours.crossJoin(F.broadcast(types))
        .join(counts, ["hour_epoch", "event_type"], "left")
        .select(
            "hour_epoch",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    a = grid.select(
        "hour_epoch",
        F.col("event_type").alias("type_a"),
        F.col("n").alias("x"),
    )
    b = grid.select(
        "hour_epoch",
        F.col("event_type").alias("type_b"),
        F.col("n").alias("y"),
    )
    m = (
        a.join(b, "hour_epoch")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
        )
    )
    # ALL products in double: the moments are exact BIGINTs, but their
    # products (n·sxy, sx·sx, varx·vary) overflow int64 at the hourly
    # volumes this operator exists for — cast each factor first, then
    # the arithmetic is the deterministic IEEE sequence both engines run
    n_d = F.col("n_hours").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    varx = n_d * F.col("sx2").cast("double") - sx_d * sx_d
    vary = n_d * F.col("sy2").cast("double") - sy_d * sy_d
    return m.select(
        "type_a",
        "type_b",
        "n_hours",
        F.round(num / F.sqrt(varx * vary), 6).alias("corr"),
    )
