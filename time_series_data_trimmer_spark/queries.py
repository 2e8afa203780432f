"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 as a (Spark builder, DuckDB oracle SQL) pair.

Conventions that make the driver's order-insensitive value-hash
comparison deterministic across engines:

* Every float output is rounded with the cross-engine formula
  ``floor(x·10^k + 0.5)/10^k`` (see functions/rounding.py) in BOTH the
  Spark plan and the oracle SQL — engine ``round()`` differs between
  Spark (decimal-string HALF_UP) and DuckDB (binary) exactly on the
  decimal grids this data lives on.
* Unordered SUM/AVG aggregates accumulate in exact DECIMAL so the
  result does not depend on float summation order.
* Window order is always a total order: ``(t, event_id)`` within
  ``user_id`` — never just ``t``.

The ``events`` table plays the trial role (FIXTURES.md: ``user_id`` ≅
trial, epoch-seconds ``t`` ≅ normalized_time, ``value`` ≅ signal
channel).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions import expressions as E
from time_series_data_trimmer_spark.functions.rounding import rd, sql_rd
from time_series_data_trimmer_spark.operators import aggregates as aggs
from time_series_data_trimmer_spark.operators import edits
from time_series_data_trimmer_spark.operators.filters import apply_filter
from time_series_data_trimmer_spark.sources.events import (
    event_seconds,
    event_ts_pushdown,
)

#: name → (spark_builder(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        if name in REGISTRY:
            # a dict assignment would silently REPLACE the earlier
            # query (and its oracle) — a coverage regression the gate
            # can't see because the new pair is self-consistent.
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + a double-seconds time axis ``t`` (epoch seconds).

    ``ts`` layout has varied across driver rounds (int64 nanos vs
    timestamp[us]); `sources/events.py` derives integer epoch-micros
    for either, matching DuckDB ``epoch(ts)`` bit-exactly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return df.withColumn("t", event_seconds(df))


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session TZ pinned to UTC: Spark timestamps are session-TZ while the
    # DuckDB oracle's are UTC-naive (the driver's session may differ)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_EVK = dict(trial_key="user_id", time_col="t", order_cols=["t", "event_id"])

# Shared oracle fragments. DuckDB epoch(ts) on a nanos file truncates to
# micros — identical to the Spark-side derivation of `t`.
_W = "PARTITION BY user_id ORDER BY epoch(ts), event_id"
_WP = "PARTITION BY user_id"
R = sql_rd  # oracle-side deterministic round


def _filter_query(filter_type: str, params: dict, out: str, ndigits: int = 4):
    """events → one §2.3 filter on `value` → (user_id, event_id, <out>)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _events(spark, sf_dir)
        df = apply_filter(df, ["value"], filter_type, params, sample_rate=120.0, **_EVK)
        return df.select("user_id", "event_id", rd(F.col("value"), ndigits).alias(out))

    return fn


# ---------------------------------------------------------------------------
# §2.3 window filters (F1, F2, F6–F12, F13-linear) over events
# ---------------------------------------------------------------------------

REGISTRY["f1_moving_average"] = (
    _filter_query("moving_average", {"window": 5}, "ma_value"),
    f"""
    SELECT user_id, event_id,
           {R("avg(value) OVER (" + _W + " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)", 4)} AS ma_value
    FROM events
    """,
)

REGISTRY["f1_moving_average_even_window"] = (
    _filter_query("moving_average", {"window": 4}, "ma_value"),
    f"""
    SELECT user_id, event_id,
           {R("avg(value) OVER (" + _W + " ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)", 4)} AS ma_value
    FROM events
    """,
)

REGISTRY["f2_rolling_median"] = (
    _filter_query("median", {"window": 5}, "med_value"),
    f"""
    SELECT user_id, event_id,
           {R("median(value) OVER (" + _W + " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)", 4)} AS med_value
    FROM events
    """,
)

REGISTRY["f11_moving_rms"] = (
    _filter_query("moving_rms", {"window": 4}, "rms_value"),
    f"""
    SELECT user_id, event_id,
           {R("sqrt(avg(value * value) OVER (" + _W + " ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING))", 4)} AS rms_value
    FROM events
    """,
)

REGISTRY["f7_derivative"] = (
    _filter_query("derivative", {}, "deriv", 4),
    f"""
    WITH base AS (
      SELECT user_id, event_id, value,
             lag(value)  OVER ({_W}) AS prev,
             lead(value) OVER ({_W}) AS nxt,
             row_number() OVER ({_W}) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    )
    SELECT user_id, event_id,
           {R('''CASE
             WHEN cnt = 1 THEN NULL
             WHEN rn = 1 THEN (nxt - value) * 120.0
             WHEN rn = cnt THEN (value - prev) * 120.0
             ELSE (nxt - prev) * 60.0
           END''', 4)} AS deriv
    FROM base
    """,
)


@register(
    "f8_integrate",
    f"""
    SELECT user_id, event_id,
           {R('''CASE WHEN sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        OVER (''' + _W + ''' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                 THEN NULL
                 ELSE CAST(sum(CAST(value AS DECIMAL(38,2)))
                        OVER (''' + _W + ''' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                      * (1.0 / 120.0)
                 END''', 4)} AS integral
    FROM events
    """,
)
def _q_integrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same cumulative-sum semantics as apply_filter("integrate") — see
    # tests/test_filters.py for the np.cumsum parity test — but the
    # running sum accumulates in exact DECIMAL: prefix sums of the
    # 0.01-grid `value` land exactly on rounding boundaries, where the
    # engines' float summation orders would otherwise flip the digit.
    df = _events(spark, sf_dir)
    ws = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = F.col("value")
    nulls = F.sum(F.when(c.isNull(), 1).otherwise(0)).over(run)
    acc = F.sum(c.cast("decimal(38,2)")).over(run)
    integral = F.when(nulls > 0, F.lit(None).cast("double")).otherwise(
        acc.cast("double") * F.lit(1.0 / 120.0)
    )
    return df.select("user_id", "event_id", rd(integral, 4).alias("integral"))


REGISTRY["f9_normalize_zscore"] = (
    _filter_query("normalize_zscore", {}, "z", 4),
    f"""
    SELECT user_id, event_id,
           {R('''(value - avg(value) OVER (''' + _WP + '''))
                 / (CASE WHEN stddev_pop(value) OVER (''' + _WP + ''') = 0 THEN 1.0
                         ELSE stddev_pop(value) OVER (''' + _WP + ''') END)''', 4)} AS z
    FROM events
    """,
)

REGISTRY["f10_normalize_percent"] = (
    _filter_query("normalize_percent", {}, "pct", 4),
    f"""
    SELECT user_id, event_id,
           {R('''value / (CASE WHEN max(abs(value)) OVER (''' + _WP + ''') = 0 THEN 1.0
                               ELSE max(abs(value)) OVER (''' + _WP + ''') END) * 100.0''', 4)} AS pct
    FROM events
    """,
)

@register(
    "f6_detrend",
    f"""
    WITH base AS (
      SELECT user_id, event_id, value,
             CAST(row_number() OVER ({_W}) - 1 AS DOUBLE) AS idx
      FROM events
    ),
    fit AS (
      SELECT user_id, event_id, value, idx,
             CAST(count(*) OVER ({_WP}) AS DOUBLE) AS n,
             CAST(sum(CAST(idx AS DECIMAL(38,0))) OVER ({_WP}) AS DOUBLE) AS sx,
             CAST(sum(CAST(idx * idx AS DECIMAL(38,0))) OVER ({_WP}) AS DOUBLE) AS sxx,
             CAST(sum(CAST(value AS DECIMAL(38,2))) OVER ({_WP}) AS DOUBLE) AS sy,
             CAST(sum(CAST(idx * value AS DECIMAL(38,2))) OVER ({_WP}) AS DOUBLE) AS sxy,
             max(CASE WHEN value IS NULL THEN 1 ELSE 0 END) OVER ({_WP}) AS has_null
      FROM base
    )
    SELECT user_id, event_id,
           {R('''CASE WHEN has_null > 0 THEN NULL
                 ELSE value - ((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n))
                               + ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * idx) END''', 4)} AS detrended
    FROM fit
    """,
)
def _q_detrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same closed-form OLS as apply_filter("detrend") — see
    # tests/test_filters.py for the polyfit parity test — but the OLS
    # moments accumulate in exact DECIMAL: covar_pop/var_pop float sums
    # differ between engines at ~1e-10, enough to flip round-4 digits on
    # the 2-decimal value grid (observed 2/100k rows at sf0.1). idx and
    # idx·value(2dp) are exactly representable in the decimals below.
    df = _events(spark, sf_dir)
    ws = Window.partitionBy("user_id").orderBy("t", "event_id")
    wp = Window.partitionBy("user_id")
    idx = (F.row_number().over(ws) - F.lit(1)).cast("double")
    d = df.select("user_id", "event_id", "value", idx.alias("idx"))
    n = F.count(F.lit(1)).over(wp).cast("double")
    sx = F.sum(F.col("idx").cast("decimal(38,0)")).over(wp).cast("double")
    sxx = F.sum((F.col("idx") * F.col("idx")).cast("decimal(38,0)")).over(wp).cast("double")
    sy = F.sum(F.col("value").cast("decimal(38,2)")).over(wp).cast("double")
    sxy = F.sum((F.col("idx") * F.col("value")).cast("decimal(38,2)")).over(wp).cast("double")
    has_null = F.max(F.col("value").isNull().cast("int")).over(wp)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    trend = (sy / n - slope * (sx / n)) + slope * F.col("idx")
    detr = F.when(has_null > 0, F.lit(None).cast("double")).otherwise(F.col("value") - trend)
    return d.select("user_id", "event_id", rd(detr, 4).alias("detrended"))


@register(
    "f12_absolute",
    """
    SELECT user_id, event_id, abs(value - 50.0) AS abs_value FROM events
    """,
)
def _q_absolute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shift so negatives exist (raw `value` is non-negative in testdata)
    df = _events(spark, sf_dir).withColumn("shifted", F.col("value") - F.lit(50.0))
    df = apply_filter(df, ["shifted"], "absolute", {}, sample_rate=120.0, **_EVK)
    return df.select("user_id", "event_id", F.col("shifted").alias("abs_value"))


@register(
    "f13_interpolate_linear",
    f"""
    WITH holed AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ),
    pos AS (
      SELECT user_id, event_id, v,
             CAST(row_number() OVER ({_W}) AS DOUBLE) AS idx
      FROM holed
    ),
    filled AS (
      SELECT user_id, event_id, v, idx,
             last_value(v IGNORE NULLS) OVER ({_WP} ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             first_value(v IGNORE NULLS) OVER ({_WP} ORDER BY idx
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER ({_WP} ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_i,
             first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER ({_WP} ORDER BY idx
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_i
      FROM pos
    )
    SELECT user_id, event_id,
           {R('''CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v) * (idx - prev_i) / (next_i - prev_i)
           END''', 4)} AS v_interp
    FROM filled
    """,
)
def _q_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value"))
    )
    df = apply_filter(df, ["v"], "interpolate", {"method": "linear"}, sample_rate=120.0, **_EVK)
    return df.select("user_id", "event_id", rd(F.col("v"), 4).alias("v_interp"))


# ---------------------------------------------------------------------------
# §2.2 predicates / edit ops
# ---------------------------------------------------------------------------

_SLICE = (3600.0, 7200.0)  # seconds into 2024-01-01
_T0 = 1704067200.0  # 2024-01-01 00:00:00 UTC epoch


@register(
    "p1_time_slice",
    f"""
    SELECT user_id, event_id, event_type, value
    FROM events
    WHERE epoch(ts) BETWEEN {_T0 + _SLICE[0]} AND {_T0 + _SLICE[1]}
    """,
)
def _q_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    # redundant raw-ts bound first: a layout-adaptive predicate on the
    # physical ts column reaches the parquet scan as PushedFilters
    # (row-group min/max pruning), which the equivalent predicate on
    # the derived `t` cannot; the t filter below keeps it exact.
    lo, hi = _T0 + _SLICE[0], _T0 + _SLICE[1]
    df = df.filter(event_ts_pushdown(df, lo, hi))
    df = edits.take_time_slice(df, lo, hi, time_col="t")
    return df.select("user_id", "event_id", "event_type", "value")


@register(
    "p4_delete_segment_collapse",
    f"""
    WITH kept AS (
      SELECT user_id, event_id, value, epoch(ts) AS t
      FROM events
      WHERE epoch(ts) < {_T0 + _SLICE[0]} OR epoch(ts) > {_T0 + _SLICE[1]}
    ),
    diffs AS (
      SELECT *, t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS d FROM kept
    ),
    dts AS (
      SELECT *, {R("coalesce(median(CASE WHEN d > 0 THEN d END) OVER (" + _WP + "), 1.0 / 120.0)", 3)} AS dt
      FROM diffs
    )
    SELECT user_id, event_id, value,
           {R("(row_number() OVER (" + _WP + " ORDER BY t, event_id) - 1) * dt", 3)} AS new_time
    FROM dts
    """,
)
def _q_delete_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).select("user_id", "event_id", "value", "t")
    out = edits.delete_segment(
        df, _T0 + _SLICE[0], _T0 + _SLICE[1],
        trial_key="user_id", time_col="t", sample_rate=120.0, order_cols=["t", "event_id"],
    )
    return out.select("user_id", "event_id", "value", F.col("t").alias("new_time"))


@register(
    "p5_mark_bad",
    f"""
    SELECT user_id, event_id,
           CASE WHEN epoch(ts) BETWEEN {_T0 + _SLICE[0]} AND {_T0 + _SLICE[1]}
                THEN TRUE ELSE FALSE END AS is_bad_segment
    FROM events
    """,
)
def _q_mark_bad(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    out = edits.mark_bad(df, _T0 + _SLICE[0], _T0 + _SLICE[1], time_col="t")
    return out.select("user_id", "event_id", "is_bad_segment")


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@register(
    "a1_sample_rate",
    f"""
    WITH diffs AS (
      SELECT user_id, epoch(ts) - lag(epoch(ts)) OVER ({_W}) AS d,
             count(*) OVER ({_WP}) AS n
      FROM events
    ),
    agg AS (
      SELECT user_id, median(CASE WHEN d > 0 THEN d END) AS dt, max(n) AS n
      FROM diffs GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN n < 2 OR dt IS NULL OR dt <= 0 THEN 120.0
                ELSE {R("1.0 / dt", 2)} END AS sample_rate
    FROM agg
    """,
)
def _q_sample_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    return aggs.infer_sample_rate(df, trial_key="user_id", time_col="t")


@register(
    "a3_calibration_offset",
    f"""
    SELECT user_id,
           {R("CAST(sum(CAST(" + sql_rd("value - sqrt(abs(value))", 6) + " AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS offset
    FROM events
    WHERE epoch(ts) BETWEEN {_T0} AND {_T0 + 43200.0}
    GROUP BY user_id
    """,
)
def _q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # src/ref channel pair fabricated from `value` (events has one channel);
    # exact-decimal accumulation keeps the mean independent of sum order.
    df = _events(spark, sf_dir).withColumn("ref", F.sqrt(F.abs(F.col("value"))))
    df = df.filter(F.col("t").between(_T0, _T0 + 43200.0))
    term = rd(F.col("value") - F.col("ref"), 6).cast("decimal(38,6)")
    return df.groupBy("user_id").agg(
        rd(F.sum(term).cast("double") / F.count(F.lit(1)), 6).alias("offset")
    )


@register(
    "a5_suggest_segments",
    f"""
    WITH base AS (
      SELECT user_id, epoch(ts) AS t, value,
             row_number() OVER ({_W}) AS idx,
             abs(value - coalesce(lag(value) OVER ({_W}), value)) AS deriv
      FROM events
    ),
    stats AS (
      SELECT *,
             avg(deriv) OVER ({_WP}) + 3 * stddev_pop(deriv) OVER ({_WP}) AS thr
      FROM base
    ),
    flags AS (
      SELECT user_id, t, idx, 'spike' AS kind FROM stats WHERE deriv > thr
      UNION ALL
      SELECT user_id, t, idx, 'nan' AS kind FROM stats
      WHERE value IS NULL OR isnan(value) OR isinf(value)
    ),
    isl AS (
      SELECT *, idx - row_number() OVER (PARTITION BY user_id, kind ORDER BY idx) AS island
      FROM flags
    )
    SELECT user_id, kind,
           {R("min(t)", 3)} AS seg_start, {R("max(t)", 3)} AS seg_end,
           count(*) AS n_samples
    FROM isl
    GROUP BY user_id, kind, island
    """,
)
def _q_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    out = aggs.suggest_segments(
        df, "value", trial_key="user_id", time_col="t", order_cols=["t", "event_id"]
    )
    return out.select(
        "user_id", "kind",
        rd(F.col("seg_start"), 3).alias("seg_start"),
        rd(F.col("seg_end"), 3).alias("seg_end"),
        "n_samples",
    )


@register(
    "a4_episode_overlay",
    f"""
    WITH epi AS (
      SELECT user_id, event_id, epoch(ts) AS t, event_type,
             CASE WHEN event_id % 5 = 0 THEN event_id // 50 ELSE NULL END AS episode_index
      FROM events
    ),
    filled AS (
      SELECT user_id, event_id, t, event_type,
             last_value(episode_index IGNORE NULLS) OVER ({_WP} ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
      FROM epi
    ),
    ok AS (SELECT * FROM filled WHERE ep IS NOT NULL),
    spans AS (
      SELECT user_id, ep, {R("min(t)", 3)} AS start, {R("max(t)", 3)} AS "end"
      FROM ok GROUP BY user_id, ep
    ),
    counted AS (
      SELECT user_id, ep, event_type, count(*) AS cnt FROM ok GROUP BY user_id, ep, event_type
    ),
    modes AS (
      SELECT user_id, ep, event_type AS mode_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ep
                                     ORDER BY cnt DESC, event_type ASC) AS rn
        FROM counted
      ) WHERE rn = 1
    )
    SELECT s.user_id, s.ep AS episode_id, s.start, s."end",
           'episode:' || m.mode_type AS label,
           CASE WHEN lower('episode:' || m.mode_type) LIKE '%action%'
                  OR lower('episode:' || m.mode_type) LIKE '%performing%' THEN '#ffa500'
                WHEN lower('episode:' || m.mode_type) LIKE '%inspect%' THEN '#6bd47a'
                ELSE '#8888ff' END AS color
    FROM spans s JOIN modes m ON s.user_id = m.user_id AND s.ep = m.ep
    """,
)
def _q_episode_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).withColumn(
        "episode_index",
        F.when(F.col("event_id") % 5 == 0, F.floor(F.col("event_id") / 50)).otherwise(
            F.lit(None).cast("long")
        ),
    )
    out = aggs.episode_overlay(
        df, trial_key="user_id", time_col="t", index_col="episode_index",
        type_col="event_type", state_col=None,
    )
    out = out.filter(F.col("episode_id").isNotNull())
    return out.select(
        "user_id", "episode_id",
        rd(F.col("start"), 3).alias("start"), rd(F.col("end"), 3).alias("end"),
        "label", "color",
    )


# ---------------------------------------------------------------------------
# §2.9 scalar expressions
# ---------------------------------------------------------------------------


@register(
    "e1_frame_transform",
    f"""
    SELECT user_id, event_id,
           {R("((((value - sqrt(value) - 30.0 + 180.0) % 360.0) + 360.0) % 360.0) - 180.0", 6)} AS transformed
    FROM events
    """,
)
def _q_frame_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).withColumn("dst", F.sqrt(F.col("value")))
    return df.select(
        "user_id", "event_id",
        rd(E.frame_transform(F.col("value"), F.col("dst"), 30.0), 6).alias("transformed"),
    )


@register(
    "e11_seasonal_fold",
    f"""
    WITH base AS (
      SELECT user_id, event_id, epoch(ts) AS t,
             min(epoch(ts)) OVER ({_WP}) AS t_min
      FROM events
    )
    SELECT user_id, event_id,
           CAST(floor((t - t_min) / 3600.0) AS BIGINT) AS season_id,
           {R("((t - t_min) % 3600.0 + 3600.0) % 3600.0", 6)} AS t_mod
    FROM base
    """,
)
def _q_seasonal_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    t_min = F.min("t").over(Window.partitionBy("user_id"))
    fold = E.seasonal_fold(F.col("t"), 3600.0, t_min)
    return df.select(
        "user_id", "event_id",
        fold["season_id"].cast("long").alias("season_id"),
        rd(fold["t_mod"], 6).alias("t_mod"),
    )


@register(
    "e8_quat_to_yaw",
    f"""
    SELECT user_id, event_id,
           {R("degrees(atan2(2.0 * (w * z + x * y), 1.0 - 2.0 * (y * y + z * z)))", 6)} AS yaw
    FROM (
      SELECT user_id, event_id,
             cos(value) AS w, sin(value) * 0.5 AS x,
             sin(value) * 0.3 AS y, sin(value) * 0.8 AS z
      FROM events
    )
    """,
)
def _q_quat_yaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value")
    df = _events(spark, sf_dir).select(
        "user_id", "event_id",
        F.cos(v).alias("w"), (F.sin(v) * 0.5).alias("x"),
        (F.sin(v) * 0.3).alias("y"), (F.sin(v) * 0.8).alias("z"),
    )
    return df.select(
        "user_id", "event_id",
        rd(E.quat_to_yaw("w", "x", "y", "z"), 6).alias("yaw"),
    )
