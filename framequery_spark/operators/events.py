"""Event-sequence analytics: funnel conversion and retention cohorts.

Beyond-reference product-analytics operators over an event stream
(user_id, ts, event_type) — the batch counterparts of the streaming
sessionization in streaming/stream.py.

Scale design (the 100 TB contract):
  - funnel: ONE shuffle (groupBy user) collecting each user's
    time-sorted (ts, type) event list, then a pure-JVM F.aggregate fold
    computes the greedy earliest stage-completion chain row-locally. The
    per-user list is bounded by that user's event count — for bot-scale
    users pre-filter to the funnel's event types (done here: the collect
    only keeps events whose type appears in `stages`, so the state per
    user is the user's *funnel-relevant* history, not their full stream).
    Stage counts then reduce through a single-row global aggregate —
    no window over an unpartitioned frame, no driver collect.
  - retention: three keyed shuffles (first-activity per user, distinct
    user-periods, cohort×offset counts), all on high-cardinality keys;
    the cohort-size normalizer joins back on cohort period (tiny —
    one row per period; broadcast).

Funnel semantics (matches the SQL restatement in the driver oracle):
stage 1 time = min ts of a stage-1 event; stage k time = min ts of a
stage-k event STRICTLY after the stage k-1 time (ties at equal ts do
not advance the funnel, which makes the fold insensitive to the sort
order of same-timestamp events). Optional `within_seconds` bounds every
later stage to at most that many seconds after the user's stage-1 time.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel_stage_times(df: DataFrame, stages: List[str],
                       user_col: str = "user_id", ts_col: str = "ts",
                       type_col: str = "event_type",
                       within_seconds: Optional[int] = None) -> DataFrame:
    """(user, stage_times array<long> of epoch-micros) — the greedy earliest
    completion chain; size(stage_times) = number of stages completed."""
    if not stages:
        raise ValueError("funnel needs at least one stage")
    if len(set(stages)) != len(stages):
        raise ValueError("funnel stages must be distinct")

    stage_arr = F.array(*[F.lit(s) for s in stages])
    n = len(stages)

    # parquet event times arrive TIMESTAMP_NTZ; unix_micros needs TIMESTAMP
    # (session tz is UTC everywhere in this engine, so the cast is lossless)
    ts = F.col(ts_col).cast("timestamp")
    ev = (df.filter(F.col(type_col).isin(list(stages)))
            .select(F.col(user_col).alias("user"),
                    F.struct(
                        F.unix_micros(ts).alias("t"),
                        F.col(type_col).alias("et")).alias("e")))
    per_user = (ev.groupBy("user")
                  .agg(F.sort_array(F.collect_list("e")).alias("evs")))

    def step(acc: Column, e: Column) -> Column:
        done = F.size(acc)
        needs = F.element_at(stage_arr, done + 1)
        advances = (done < n) & (e["et"] == needs) & (
            (done == 0) | (e["t"] > F.element_at(acc, -1)))
        if within_seconds is not None:
            advances = advances & (
                (done == 0)
                | (e["t"] - F.element_at(acc, 1)
                   <= F.lit(int(within_seconds) * 1_000_000)))
        return F.when(advances, F.concat(acc, F.array(e["t"]))) \
                .otherwise(acc)

    times = F.aggregate(
        F.col("evs"),
        F.array().cast("array<bigint>"),
        step)
    return per_user.select("user", times.alias("stage_times"))


def depth_to_stage_counts(depth: DataFrame, stages: List[str]) -> DataFrame:
    """Reduce per-user completion depths (column ``d``) to the per-stage
    funnel rows (stage_idx, stage, n_users, pct): one global-aggregate row
    (n conditional sums reduce map-side), then posexplode back to one row
    per stage — no driver round-trip. Shared by the batch operator and the
    streaming funnel (streaming/stream.py:stream_funnel_counts)."""
    # coalesce: with zero funnel-relevant events the sums aggregate an
    # empty frame to NULL, but the funnel answer is a count — 0
    aggs = [F.coalesce(F.sum((F.col("d") >= i + 1).cast("bigint")),
                       F.lit(0).cast("bigint")).alias(f"s{i}")
            for i in range(len(stages))]
    one = depth.agg(*aggs).select(
        F.col("s0").alias("__first"),
        F.posexplode(F.array(*[F.col(f"s{i}") for i in range(len(stages))]))
         .alias("i", "n_users"))
    stage_arr = F.array(*[F.lit(s) for s in stages])
    return one.select(
        (F.col("i") + 1).cast("int").alias("stage_idx"),
        F.element_at(stage_arr, F.col("i") + 1).alias("stage"),
        F.col("n_users"),
        F.when(F.col("__first") > 0,
               F.round(F.col("n_users").cast("double")
                       / F.col("__first"), 4)).alias("pct"))


def funnel_counts(df: DataFrame, stages: List[str],
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  within_seconds: Optional[int] = None) -> DataFrame:
    """Per-stage funnel: (stage_idx, stage, n_users, pct) where pct is the
    conversion against stage 1. One row per stage, in order."""
    per_user = funnel_stage_times(df, stages, user_col, ts_col, type_col,
                                  within_seconds)
    depth = per_user.select(F.size("stage_times").alias("d"))
    return depth_to_stage_counts(depth, stages)


def event_rate_anomaly(df: DataFrame, type_col: str = "event_type",
                       ts_col: str = "ts", bucket: str = "hour",
                       z_threshold: float = 3.0) -> DataFrame:
    """Per-type event-rate anomaly scores: bucket the stream (hour/day),
    z-score every (type, bucket) count against that type's own
    distribution over buckets, and flag |z| >= z_threshold — the ops-side
    monitor for ingest spikes/outages over the same stream the funnel and
    retention operators read.

    The mean/variance come from DECIMAL-quantized exact sums of the
    integer counts (converted to double only at the final division), so
    z-scores are bit-identical across engines and partition layouts —
    the driver oracle restates the identical formula. Buckets with zero
    events produce no row (use time_bucket_gapfill first for a dense
    grid). Plan shape: one keyed count aggregate (map-side combine),
    one type-keyed stats aggregate (rows = #types), broadcast join back.
    """
    if bucket not in ("minute", "hour", "day", "week"):
        raise ValueError("bucket must be minute, hour, day or week")
    period = F.date_trunc(bucket, F.col(ts_col))
    counts = (df.groupBy(F.col(type_col).alias("etype"),
                         period.alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n")))
    return score_rate_counts(counts, type_col, z_threshold)


def score_rate_counts(counts: DataFrame, type_col: str = "event_type",
                      z_threshold: float = 3.0) -> DataFrame:
    """The z-scoring half of :func:`event_rate_anomaly`, over finished
    ``(etype, bucket, n)`` counts — shared with the streaming monitor,
    whose counts come out of a streaming aggregation instead."""
    dec = "decimal(38,0)"
    # n is cast to decimal BEFORE squaring: bigint*bigint wraps silently
    # past ~3e9 events per bucket — exactly the scale this module claims
    n_dec = F.col("n").cast(dec)
    # the stats side renames its key, so this self-join stays resolvable
    # over a leaf Spark cannot re-instance (a streaming memory sink)
    stats = (counts.groupBy(F.col("etype").alias("__t"))
             .agg(F.count(F.lit(1)).alias("__k"),
                  F.sum(n_dec).alias("__s"),
                  F.sum((n_dec * n_dec).cast(dec)).alias("__s2")))
    j = counts.join(F.broadcast(stats), F.col("etype") == F.col("__t"))
    k = F.col("__k").cast("double")
    s = F.col("__s").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s / k
    var = F.when(F.col("__k") > 1, (s2 - s * s / k) / (k - 1.0)) \
           .otherwise(F.lit(0.0))
    std = F.sqrt(var)
    z = F.when(std > 0, (F.col("n").cast("double") - mean) / std) \
         .otherwise(F.lit(0.0))
    return j.select(
        F.col("etype").alias(type_col), "bucket", "n",
        F.round(z, 4).alias("z"),
        (F.abs(z) >= F.lit(float(z_threshold))).alias("is_anomaly"))


def retention_cohorts(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      granularity: str = "week") -> DataFrame:
    """Cohort retention matrix: users cohorted by the period of their first
    event; (cohort, period_offset, n_active, retention) counts distinct
    users of each cohort active in each later period. retention is
    n_active / cohort size (the offset-0 count — every cohort user is
    active in their first period by construction)."""
    if granularity not in ("day", "week", "month"):
        raise ValueError("granularity must be day, week or month")
    # date_trunc keeps the input's timestamp family (NTZ stays NTZ), and
    # the offset arithmetic below runs on dates — no tz-cast anywhere, so
    # parquet TIMESTAMP_NTZ event times round-trip unchanged
    period = F.date_trunc(granularity, F.col(ts_col))

    first = (df.groupBy(F.col(user_col).alias("user"))
               .agg(F.min(period).alias("cohort")))
    active = (df.select(F.col(user_col).alias("user"),
                        period.alias("period"))
                .distinct())

    if granularity == "month":
        offset = (F.months_between(F.to_date("period"), F.to_date("cohort"))
                  .cast("int"))
    else:
        days = {"day": 1, "week": 7}[granularity]
        # both sides are period-truncated, so the division is exact
        offset = (F.datediff(F.to_date("period"), F.to_date("cohort"))
                  / F.lit(days)).cast("int")

    joined = active.join(first, "user").select(
        "user", "cohort", offset.alias("offset"))
    counts = (joined.groupBy("cohort", "offset")
                    .agg(F.count_distinct("user").alias("n_active")))
    sizes = counts.filter(F.col("offset") == 0) \
                  .select("cohort", F.col("n_active").alias("__size"))
    return (counts.join(F.broadcast(sizes), "cohort")
            .select("cohort", "offset", "n_active",
                    F.round(F.col("n_active").cast("double")
                            / F.col("__size"), 4).alias("retention")))


def rfm_segments(df: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts", type_col: str = "event_type",
                 value_col: str = "value",
                 monetary_types: Optional[List[str]] = None) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic marketing-analytics operator: score each user 1-4 on how
    recently they were active, how often, and how much they spent, then
    label them with the three-digit segment ('444' = best customers).

    Quartile thresholds come from ONE single-row global aggregate
    (exact interpolated percentiles) broadcast back over the per-user
    table — scoring is then a row-local comparison, so the whole
    operator is one keyed groupBy + one broadcast join. No global
    window: `ntile(4)` (the textbook formulation) would force every
    user row through a single reducer; comparing against broadcast
    quantile boundaries is order-free and embarrassingly parallel. At
    100 TB swap the exact percentile for `approx_percentile` — the
    thresholds are the only non-row-local piece.

    Engine-portable determinism: every scored dimension is an exact
    INTEGER (epoch-micros recency, event-count frequency, micro-unit
    monetary via DECIMAL summation — never a float sum), so the
    interpolated quartiles and the `>` comparisons reproduce bit-exact
    on any engine (the DuckDB oracle restates them 1:1 with
    percentile_cont).

    Returns (user, r, f, m_micro, r_score, f_score, m_score, segment).
    """
    monetary_types = list(monetary_types or ["purchase"])
    ts = F.col(ts_col).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,6)")
    spend = F.when(F.col(type_col).isin(monetary_types),
                   F.col(value_col).cast("decimal(18,6)")).otherwise(zero)
    per_user = (df.groupBy(F.col(user_col).alias("user"))
                .agg(F.unix_micros(F.max(ts)).alias("r"),
                     F.count(F.lit(1)).alias("f"),
                     (F.sum(spend) * 1000000)
                     .cast("bigint").alias("m_micro")))
    qs = [0.25, 0.5, 0.75]
    thresholds = per_user.agg(*[
        F.percentile(F.col(c), F.lit(q)).alias(f"__{c}{i+1}")
        for c in ("r", "f", "m_micro") for i, q in enumerate(qs)])

    def score(c: str) -> Column:
        s = F.lit(1)
        for i in range(1, 4):
            s = s + F.when(F.col(c) > F.col(f"__{c}{i}"), 1).otherwise(0)
        return s

    scored = per_user.crossJoin(F.broadcast(thresholds))
    return scored.select(
        "user", "r", "f", "m_micro",
        score("r").alias("r_score"),
        score("f").alias("f_score"),
        score("m_micro").alias("m_score"),
        F.concat(score("r").cast("string"), score("f").cast("string"),
                 score("m_micro").cast("string")).alias("segment"))


def ks_drift(df: DataFrame, group_col: str, group_a: str, group_b: str,
             value_col: str = "value", quantize: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value_col``
    distributions of two groups — the standard drift test a pipeline
    runs between data sources, time windows, or an A/B split before
    trusting a mixture change.

    D = sup_x |F_a(x) - F_b(x)|, computed exactly over the pooled
    empirical CDFs. All comparisons run in INTEGER space: values are
    quantized to ``10^-quantize`` grid cells via floor(v * 10^q) (floor
    on IEEE doubles is engine-exact where round() is not), and the sup
    is maximized on |cum_a * n_b - cum_b * n_a| so no float division
    happens until the final single row. Returns one row
    (n_a, n_b, d_num, ks_stat).

    Scale shape: one groupBy on the quantized value (map-side combine —
    state bounded by the metric's quantized dynamic range, the same
    bounded-aggregate footprint as the vocab operators, NOT row count);
    the CDF cumsum is a window over that bounded distinct-value table;
    totals reduce through a single-row aggregate. Nothing row-scale is
    ever sorted globally.
    """
    if quantize < 0:
        raise ValueError("quantize must be >= 0")
    scale = 10 ** quantize
    g = F.col(group_col)
    vq = F.floor(F.col(value_col) * F.lit(float(scale))).cast("long")
    pts = (df.filter(g.isin([group_a, group_b])
                     & F.col(value_col).isNotNull())
           .groupBy(vq.alias("v"))
           .agg(F.sum(F.when(g == group_a, 1).otherwise(0)).alias("na"),
                F.sum(F.when(g == group_b, 1).otherwise(0)).alias("nb")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdf = pts.select(
        "v",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"))
    totals = pts.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    return (cdf.crossJoin(F.broadcast(totals))
            .groupBy("n_a", "n_b")
            .agg(F.max(F.abs(F.col("ca") * F.col("n_b")
                             - F.col("cb") * F.col("n_a"))).alias("d_num"))
            .select("n_a", "n_b", "d_num",
                    F.round(F.col("d_num").cast("double")
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("ks_stat")))


def changepoint_mean_shift(df: DataFrame, ts_col: str = "ts",
                           granularity: str = "hour",
                           top_k: int = 1) -> DataFrame:
    """Single-changepoint detection on the event-rate series: bucket
    events per period, then score every split point t with the
    binary-segmentation statistic

        T(t) = sqrt(t * (n-t) / n) * |mean(x[1..t]) - mean(x[t+1..n])|

    (the CUSUM-equivalent mean-shift test; Scott & Knott's split
    criterion). The top-scoring split is where the rate most likely
    changed — deploy regressions, logging gaps, traffic shifts.

    Returns the ``top_k`` splits as (split_period, n_before, n_after,
    mean_before, mean_after, score): split_period is the LAST period of
    the left segment; means and score round to 1e-6 and the ranking
    orders by the rounded score (period tiebreak), so the cut is
    engine-deterministic — every input to the double-precision score is
    an exact integer prefix sum.

    Scale shape: one groupBy(period) with map-side combine (state
    bounded by the observed period count, not event count); the prefix
    sums are windows over that bounded bucket table; totals broadcast
    from a 1-row aggregate. Nothing event-scale sorts globally.
    """
    if granularity not in ("minute", "hour", "day", "week"):
        raise ValueError("granularity must be minute, hour, day or week")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    period = F.date_trunc(granularity, F.col(ts_col).cast("timestamp"))
    buckets = (df.groupBy(period.alias("period"))
               .agg(F.count(F.lit(1)).alias("x")))
    w = (Window.orderBy("period")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = buckets.select(
        "period",
        F.row_number().over(Window.orderBy("period")).alias("t"),
        F.sum("x").over(w).alias("cum"))
    totals = buckets.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("x").alias("total"))
    s = cum.crossJoin(F.broadcast(totals)).filter(F.col("t") < F.col("n"))
    t, n = F.col("t").cast("double"), F.col("n").cast("double")
    mean1 = F.col("cum") / t
    mean2 = (F.col("total") - F.col("cum")) / (n - t)
    score = F.sqrt(t * (n - t) / n) * F.abs(mean1 - mean2)
    return (s.select(
        F.col("period").alias("split_period"),
        F.col("t").alias("n_before"),
        (F.col("n") - F.col("t")).alias("n_after"),
        F.round(mean1, 6).alias("mean_before"),
        F.round(mean2, 6).alias("mean_after"),
        F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "split_period").limit(int(top_k)))


def event_transitions(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      top_k: int | None = None) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (from_type, to_type) pair of CONSECUTIVE events within a user's
    timeline, (n, prob) with prob = n / outgoing(from_type) — the
    path-analysis primitive behind "what do users do after X".

    Consecutive means adjacent in (ts, event_id-free) order per user;
    same-timestamp ties order by the event type string so the lag is
    deterministic and restates in SQL. Returns
    (from_type, to_type, n, prob), prob rounded to 1e-6; ``top_k``
    keeps the most frequent transitions (count desc, pair asc —
    TakeOrderedAndProject).

    Scale shape: one user-keyed window (each user's timeline lives on
    one reducer — the funnel/sessionize shape), one groupBy bounded by
    |event types|^2, and a broadcast per-from-type totals join.
    """
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col).cast("timestamp"), F.col(type_col)))
    steps = (df.select(F.col(user_col),
                       F.col(type_col).alias("to_type"),
                       F.lag(F.col(type_col)).over(w).alias("from_type"))
             .filter(F.col("from_type").isNotNull()))
    counts = (steps.groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n")))
    outgoing = counts.groupBy("from_type").agg(F.sum("n").alias("__out"))
    out = (counts.join(F.broadcast(outgoing), "from_type")
           .select("from_type", "to_type", "n",
                   F.round(F.col("n").cast("double") / F.col("__out"), 6)
                   .alias("prob")))
    if top_k is not None:
        if top_k < 1:
            raise ValueError("event_transitions: top_k must be >= 1")
        out = out.orderBy(F.desc("n"), "from_type", "to_type") \
                 .limit(int(top_k))
    return out
