"""Aggregation operators (SURVEY §2.5 A1–A8, §2.6 W1–W6).

Every aggregate partitions by the trial key; thresholds that the
reference computes as whole-array numpy reductions become partition
windows (one shuffle, shared with the signal filters).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd
from time_series_data_trimmer_spark.schema import DEFAULT_SAMPLE_RATE, partition_cols


def infer_sample_rate(
    df: DataFrame,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    fallback: float = DEFAULT_SAMPLE_RATE,
) -> DataFrame:
    """A1: per-trial ``round(1 / median(positive diffs), 2)`` with a
    120 Hz fallback (data_model.py:116-126). Exact median — never
    ``approx_percentile`` (oracle-compared)."""
    pcols = partition_cols(trial_key)
    ws = Window.partitionBy(*pcols).orderBy(time_col)
    t = F.col(time_col).cast("double")
    d = df.withColumn("__diff", t - F.lag(t).over(ws))
    agg = d.groupBy(*pcols).agg(
        F.median(F.when(F.col("__diff") > 0, F.col("__diff"))).alias("__dt"),
        F.count(F.lit(1)).alias("__n"),
    )
    rate = F.when(
        (F.col("__n") < 2) | F.col("__dt").isNull() | (F.col("__dt") <= 0), F.lit(float(fallback))
    ).otherwise(rd(1.0 / F.col("__dt"), 2))
    return agg.select(*pcols, rate.alias("sample_rate"))


def calibration_offset(
    df: DataFrame,
    src: str,
    ref: str,
    start: float,
    end: float,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
) -> DataFrame:
    """A3: ``mean(src - ref)`` over a time slice, per trial
    (main.py:627-646). Filter pushes down to the scan; the agg is
    map-side combined."""
    t = F.col(time_col).cast("double")
    pcols = partition_cols(trial_key)
    return (
        df.filter(t.between(float(start), float(end)))
        .groupBy(*pcols)
        .agg(F.avg(F.col(src) - F.col(ref)).alias("offset"))
    )


def ffill(
    df: DataFrame,
    col: str,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    out_col: str | None = None,
) -> DataFrame:
    """W2: forward-fill = last non-null over the running window."""
    pcols = partition_cols(trial_key)
    w = (
        Window.partitionBy(*pcols)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col or col, F.last(F.col(col), ignorenulls=True).over(w))


def episode_color(label_col) -> F.Column:
    """E5: episode color case-mapping (main.py:1258-1266)."""
    low = F.lower(label_col)
    return (
        F.when(low.contains("action") | low.contains("performing"), F.lit("#ffa500"))
        .when(low.contains("inspect"), F.lit("#6bd47a"))
        .otherwise(F.lit("#8888ff"))
    )


def _deterministic_mode(df: DataFrame, keys: list[str], value_col: str, out_col: str) -> DataFrame:
    """Smallest-most-frequent value per key group — pandas
    ``Series.mode().iloc[0]`` semantics (ties → smallest value), unlike
    Spark/DuckDB ``mode`` whose tie-break is undefined."""
    counted = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(*keys).orderBy(F.col("__cnt").desc(), F.col(value_col).asc())
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, F.col(value_col).alias(out_col))
    )


def episode_overlay(
    df: DataFrame,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    index_col: str = "episode_index",
    type_col: str = "episode_type",
    state_col: str | None = "episode_state",
) -> DataFrame:
    """A4: episode spans (main.py:1233-1277): forward-fill the episode
    index, then per episode take min/max time and the modal type/state;
    label = ``episode:<type>[:<state>]`` with the E5 color rules.

    Mode is implemented deterministically (highest count, then smallest
    value) to match pandas ``mode().iloc[0]``.
    """
    pcols = partition_cols(trial_key)
    run = (
        Window.partitionBy(*pcols)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = df.withColumn("__ep", F.last(F.col(index_col), ignorenulls=True).over(run).cast("long"))
    d = d.withColumn("__type", F.coalesce(F.col(type_col).cast("string"), F.lit("episode")))
    keys = pcols + ["__ep"]

    if not (state_col and state_col in df.columns):
        # Join-free single pass: count per (episode, type), then one
        # window over the episode computes the span AND picks the
        # deterministic mode (count desc, value asc) — two map-side-
        # combined shuffles on the same key prefix, no join.
        counted = d.groupBy(*keys, "__type").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.col(time_col).cast("double")).alias("__mn"),
            F.max(F.col(time_col).cast("double")).alias("__mx"),
        )
        wkeys = Window.partitionBy(*keys)
        worder = wkeys.orderBy(F.col("__cnt").desc(), F.col("__type").asc())
        picked = (
            counted.withColumn("__rn", F.row_number().over(worder))
            .withColumn("start", F.min("__mn").over(wkeys))
            .withColumn("end", F.max("__mx").over(wkeys))
            .filter(F.col("__rn") == 1)
        )
        label = F.concat(F.lit("episode:"), F.col("__type"))
        out = picked.withColumn("label", label).withColumn(
            "color", episode_color(F.col("label"))
        )
        out = out.withColumnRenamed("__ep", "episode_id")
        return out.select(
            *pcols, "episode_id", "start", "end", "label", "color",
            F.col("__type").alias("episode_type"),
        )

    spans = d.groupBy(*keys).agg(
        F.min(F.col(time_col).cast("double")).alias("start"),
        F.max(F.col(time_col).cast("double")).alias("end"),
    )
    mode_type = _deterministic_mode(d, keys, "__type", "__mode_type")
    out = spans.join(mode_type, on=keys, how="left")
    label = F.concat(F.lit("episode:"), F.col("__mode_type"))
    if True:
        mode_state = _deterministic_mode(
            d.filter(F.col(state_col).isNotNull()), keys, state_col, "__mode_state"
        )
        out = out.join(mode_state, on=keys, how="left")
        label = F.when(
            F.col("__mode_state").isNotNull(),
            F.concat(label, F.lit(":"), F.col("__mode_state").cast("string")),
        ).otherwise(label)
    out = out.withColumn("label", label).withColumn("color", episode_color(F.col("label")))
    out = out.withColumnRenamed("__ep", "episode_id")
    return out.select(
        *pcols, "episode_id", "start", "end", "label", "color", "__mode_type"
    ).withColumnRenamed("__mode_type", "episode_type")


def suggest_segments(
    df: DataFrame,
    channel: str,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    order_cols: Sequence[str] | None = None,
    sigma: float = 3.0,
) -> DataFrame:
    """A5: spike/NaN artifact segments (main.py:1279-1308).

    ``deriv = |x_i - x_{i-1}|`` (first row prepends itself → 0); spike
    threshold ``mean(deriv) + 3·std_pop(deriv)`` per trial; NaN rows
    flagged separately; contiguous flagged runs collapse to
    ``(trial, kind, seg_start, seg_end)`` via gaps-and-islands —
    the distributed replacement for the reference's Python run loop.
    """
    pcols = partition_cols(trial_key)
    ocols = list(order_cols) if order_cols else [time_col]
    ws = Window.partitionBy(*pcols).orderBy(*ocols)
    wp = Window.partitionBy(*pcols)

    c = F.col(channel).cast("double")
    t = F.col(time_col).cast("double")
    d = df.select(
        *pcols,
        t.alias("__t"),
        F.row_number().over(ws).alias("__idx"),
        F.abs(c - F.coalesce(F.lag(c).over(ws), c)).alias("__deriv"),
        # ~np.isfinite (main.py:1289): NaN, null AND ±Inf all count as
        # artifact samples — isnan alone would silently unflag infinities
        (c.isNull() | F.isnan(c) | (F.abs(c) == F.lit(float("inf")))).alias("__is_nan"),
    )
    # NaN-aware stats over the derivative (np.nanmean/np.nanstd ddof=0);
    # the NaN entries of deriv come from NaN samples (lag/self null-prop).
    thr = F.avg("__deriv").over(wp) + F.lit(float(sigma)) * F.stddev_pop("__deriv").over(wp)
    d = d.withColumn("__spike", (F.col("__deriv") > thr) & F.col("__deriv").isNotNull())

    flagged = d.select(
        *pcols,
        "__t",
        "__idx",
        F.explode(
            F.array(
                F.struct(F.lit("spike").alias("kind"), F.col("__spike").alias("flag")),
                F.struct(F.lit("nan").alias("kind"), F.col("__is_nan").alias("flag")),
            )
        ).alias("fk"),
    ).select(*pcols, "__t", "__idx", F.col("fk.kind").alias("kind"), F.col("fk.flag").alias("flag"))
    flagged = flagged.filter(F.col("flag"))

    wk = Window.partitionBy(*pcols, "kind").orderBy("__idx")
    islands = flagged.withColumn("__island", F.col("__idx") - F.row_number().over(wk))
    return islands.groupBy(*pcols, "kind", "__island").agg(
        F.min("__t").alias("seg_start"),
        F.max("__t").alias("seg_end"),
        F.count(F.lit(1)).alias("n_samples"),
    ).drop("__island")


def sessionize(
    df: DataFrame,
    gap_seconds: float,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Session windows over batch data via gaps-and-islands: a new
    session starts where the gap to the previous event exceeds
    ``gap_seconds``. Returns per-session (trial, session_id, start,
    end, n_events).

    Same semantics as Structured Streaming's ``session_window`` with a
    static gap (streaming/stream_ops.session_agg is the incremental
    twin); one window pass + one map-side-combined aggregation, all on
    the trial partitioning.
    """
    pcols = partition_cols(trial_key)
    ocols = list(order_cols) if order_cols else [time_col]
    ws = Window.partitionBy(*pcols).orderBy(*ocols)
    t = F.col(time_col).cast("double")
    d = df.withColumn(
        "__new_session",
        F.when(
            (t - F.lag(t).over(ws)) > float(gap_seconds), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    d = d.withColumn(
        "__session",
        F.sum("__new_session").over(
            ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return d.groupBy(*pcols, F.col("__session").alias("session_id")).agg(
        F.min(t).alias("session_start"),
        F.max(t).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sessionize_user_events(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch gap-based sessionization over the EVENTS table (the
    trial-data twin is `sessionize` above): split each user's event stream
    wherever the gap to the previous event exceeds ``gap_minutes``,
    then aggregate per session — the batch twin of the streaming
    session window (`stream_ops.session_agg`), and the classic
    gaps-and-islands shape (`suggest_segments` applies the same trick
    to NaN runs).

    Plan: ONE shuffle, on the user key — the lag window, the boundary
    cumsum, and the session aggregation all share the same
    partitioning (Exchange reuse), so sessionization costs exactly one
    pass over (user, ts, value) rows regardless of corpus size. Gap
    arithmetic is integer microseconds (no float time math); ties on
    ``ts`` break by ``order_tiebreak`` for a total, engine-portable
    order.

    Output: (user, session_idx 1-based, session_start, session_end,
    n_events, duration_sec, total_value rounded to 2 dp).
    """
    from time_series_data_trimmer_spark.sources.events import event_micros

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    us = event_micros(df, ts_col)
    prev = F.lag(us).over(w)
    new_sess = F.when(
        prev.isNull() | ((us - prev) > F.lit(int(gap_minutes) * 60_000_000)), 1
    ).otherwise(0)
    marked = df.withColumn("__new", new_sess).withColumn(
        "__sess",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        marked.groupBy(user_col, "__sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (
                (F.max(us) - F.min(us)) / F.lit(1_000_000)
            ).alias("duration_sec"),
            # per-event 2-dp round + DECIMAL sum: order-independent,
            # bit-identical in any engine (double-sum would be
            # summation-order-dependent)
            F.sum(rd(F.col(value_col).cast("double"), 2).cast("decimal(38,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumnRenamed("__sess", "session_idx")
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-seen
    week; for each (cohort_week, week_offset) the count of cohort
    members active that week and the retained fraction — the classic
    product-analytics triangle, and the engagement view of a training
    corpus's event exhaust.

    All time math is integer epoch-weeks (``floor(us / week_us)``);
    the retained fraction is one exact-integer division. Plan: distinct
    (user, week) narrow pairs; the per-user min-week is a map-side-
    combined agg on the SAME user-key shuffle; cohort sizes are a
    bounded (weeks) aggregate joined back by broadcast.
    """
    from time_series_data_trimmer_spark.sources.events import event_micros

    week = F.floor(event_micros(df, ts_col) / F.lit(604_800_000_000)).cast("long")
    uw = df.select(F.col(user_col).alias("u"), week.alias("w")).distinct()
    first = uw.groupBy("u").agg(F.min("w").alias("cohort_w"))
    act = uw.join(first.hint("shuffle_hash"), "u")
    sizes = first.groupBy("cohort_w").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = act.groupBy("cohort_w", "w").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_w")
        .select(
            F.col("cohort_w").alias("cohort_week"),
            (F.col("w") - F.col("cohort_w")).alias("week_offset"),
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retained_frac"),
        )
    )


def autocorr_peak_lag(
    df: DataFrame,
    max_lag: int = 10,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key autocorrelation peak: the sample lag ℓ ∈ [1, max_lag]
    maximizing the demeaned autocovariance ``Σ (v_t − m)(v_{t+ℓ} − m)``
    — periodicity detection over an event stream (the statistical twin
    of the calendar-bucket `e11_seasonal_fold`; a cross-channel
    variant is the same plan with a second value column).

    Determinism: the per-key mean is a decimal sum of 6-dp-rounded
    values over an exact count; each lag product is 6-dp-rounded and
    decimal-summed; the argmax tie-breaks on the smaller lag. All
    engine-portable.

    Plan shape: ONE key-partitioned window pass computes all
    ``max_lag`` leads AND the mean (shared Exchange); ``stack``
    unpivots scan-side (an Expand, no shuffle); one map-side-combined
    aggregation per (key, lag); the argmax is a keyed row_number over
    the BOUNDED (key × max_lag) table.
    """
    from time_series_data_trimmer_spark.sources.events import event_micros

    w = Window.partitionBy(key_col).orderBy(
        event_micros(df, ts_col).asc(), F.col(tiebreak_col).asc()
    )
    wfull = Window.partitionBy(key_col)
    v = F.col(value_col).cast("double")
    m = (
        F.sum(rd(v, 6).cast("decimal(38,6)")).over(wfull).cast("double")
        / F.count(F.lit(1)).over(wfull).cast("double")
    )
    leads = [F.lead(v, l).over(w).alias(f"__v{l}") for l in range(1, max_lag + 1)]
    base = df.select(F.col(key_col), v.alias("__v"), m.alias("__m"), *leads)
    stack_args = ", ".join(f"{l}, __v{l}" for l in range(1, max_lag + 1))
    unpivoted = base.select(
        key_col,
        "__v",
        "__m",
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, __vl)"),
    ).filter(F.col("__vl").isNotNull())
    scored = unpivoted.groupBy(key_col, "lag").agg(
        F.sum(
            rd((F.col("__v") - F.col("__m")) * (F.col("__vl") - F.col("__m")), 6)
            .cast("decimal(38,6)")
        )
        .cast("double")
        .alias("__score")
    )
    pick = Window.partitionBy(key_col).orderBy(
        F.col("__score").desc(), F.col("lag").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            key_col,
            F.col("lag").alias("peak_lag"),
            rd(F.col("__score"), 4).alias("peak_score"),
        )
    )


def equidepth_histogram(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    n_buckets: int = 10,
) -> DataFrame:
    """Per-key equi-depth (equal-frequency) histogram: bucket
    boundaries chosen so each holds ~1/n of the rows — the statistics
    object query optimizers and data-quality monitors build per
    column, and the right histogram for skewed values (equi-WIDTH
    buckets collapse under heavy tails).

    Determinism: bucket = min(n−1, floor(percent_rank·n)) over the
    6-dp-ROUNDED value (value-ties share a rank in every engine —
    the `quality_percentile_by_group` convention; ntile would split
    ties by arbitrary row order). Plan: one keyed rank window + one
    map-side-combined aggregation on the same key Exchange; output is
    the bounded (key × buckets) table.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    v6 = rd(F.col(value_col).cast("double"), 6)
    w = Window.partitionBy(key_col).orderBy(F.col("__v").asc())
    bucket = F.least(
        F.lit(n_buckets - 1).cast("long"),
        F.floor(F.percent_rank().over(w) * F.lit(float(n_buckets))),
    )
    return (
        df.select(F.col(key_col), v6.alias("__v"))
        .withColumn("bucket", bucket)
        .groupBy(key_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        )
    )
