"""Segment-edit operators (SURVEY §2.2 P1–P8, §2.4 J1–J3).

The reference's eager pandas mutations (``/root/reference/data_model.py``)
become lazy DataFrame transforms; annotations and deletions are small
interval DataFrames joined to samples by range containment (broadcast —
they are tiny relative to the samples at any scale).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd
from time_series_data_trimmer_spark.schema import DEFAULT_SAMPLE_RATE, partition_cols


def take_time_slice(df: DataFrame, start: float, end: float, time_col: str = "normalized_time") -> DataFrame:
    """P1: rows with start <= t <= end (data_model.py:359-363)."""
    return df.filter(F.col(time_col).cast("double").between(float(start), float(end)))


def delete_segment(
    df: DataFrame,
    start: float,
    end: float,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    sample_rate: float = DEFAULT_SAMPLE_RATE,
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """P4: drop rows in [start, end] and collapse the timeline
    (data_model.py:170-194).

    Surviving rows are re-timed to ``round(row_index * dt, 3)`` where
    ``dt = round(median(positive diffs of surviving time), 3)`` per
    trial (fallback ``1/max(fs, 1e-6)``). One window pass per trial —
    the same shuffle key as every other operator.
    """
    if start >= end:  # invalid range is a no-op (data_model.py:171-173)
        return df
    t = F.col(time_col).cast("double")
    kept = df.filter((t < float(start)) | (t > float(end)))

    pcols = partition_cols(trial_key)
    ws = Window.partitionBy(*pcols).orderBy(*(list(order_cols) if order_cols else [time_col]))
    wp = Window.partitionBy(*pcols)
    diff = t - F.lag(t).over(ws)
    kept = kept.withColumn("__diff", diff)
    dt_med = F.median(F.when(F.col("__diff") > 0, F.col("__diff"))).over(wp)
    dt = rd(F.coalesce(dt_med, F.lit(1.0 / max(float(sample_rate), 1e-6))), 3)
    new_time = rd((F.row_number().over(ws) - F.lit(1)).cast("double") * dt, 3)
    return kept.withColumn(time_col, new_time).drop("__diff")


def post_delete_sample_rate(
    df: DataFrame,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
) -> DataFrame:
    """A2 companion: per-trial ``round(1/max(dt, 1e-6), 3)`` after a
    collapse (data_model.py:187)."""
    pcols = partition_cols(trial_key)
    ws = Window.partitionBy(*pcols).orderBy(time_col)
    t = F.col(time_col).cast("double")
    d = df.withColumn("__diff", t - F.lag(t).over(ws))
    agg = d.groupBy(*pcols).agg(
        rd(F.median(F.when(F.col("__diff") > 0, F.col("__diff"))), 3).alias("__dt")
    )
    return agg.select(
        *pcols,
        rd(1.0 / F.greatest(F.coalesce(F.col("__dt"), F.lit(0.0)), F.lit(1e-6)), 3).alias(
            "sample_rate"
        ),
    )


def mark_bad(
    df: DataFrame,
    start: float,
    end: float,
    *,
    time_col: str = "normalized_time",
    mask_col: str = "is_bad_segment",
) -> DataFrame:
    """P5: set the bad mask inside [start, end] (data_model.py:196-206)."""
    if start >= end:
        return df
    t = F.col(time_col).cast("double")
    existing = F.col(mask_col) if mask_col in df.columns else F.lit(False)
    return df.withColumn(
        mask_col,
        F.when(t.between(float(start), float(end)), F.lit(True)).otherwise(existing),
    )


def delete_by_intervals(
    df: DataFrame,
    deletions: DataFrame,
    *,
    trial_key: str | None = "trial_id",
    time_col: str = "normalized_time",
) -> DataFrame:
    """J2: anti range-join — drop samples inside ANY deleted interval.

    ``deletions(trial_id?, start, end)`` is broadcast: the interval
    table is tiny (human edit log), so at 100 TB this stays a
    broadcast-nested-loop anti join with no shuffle of the samples.
    """
    t = F.col(time_col).cast("double")
    cond = (t >= deletions["start"]) & (t <= deletions["end"])
    if trial_key and trial_key in deletions.columns:
        cond = cond & (df[trial_key] == deletions[trial_key])
    return df.join(F.broadcast(deletions), on=cond, how="left_anti")


def annotations_at_times(
    samples: DataFrame,
    annotations: DataFrame,
    *,
    trial_key: str | None = "trial_id",
    time_col: str = "normalized_time",
) -> DataFrame:
    """J1: interval-containment join — each sample row gains the matching
    annotation's columns (broadcast range join; annotations are tiny)."""
    t = samples[time_col].cast("double")
    cond = (t >= annotations["start"]) & (t <= annotations["end"])
    if trial_key and trial_key in annotations.columns and trial_key in samples.columns:
        cond = cond & (samples[trial_key] == annotations[trial_key])
        annotations = annotations.withColumnRenamed(trial_key, f"__ann_{trial_key}")
        cond = (t >= annotations["start"]) & (t <= annotations["end"]) & (
            samples[trial_key] == annotations[f"__ann_{trial_key}"]
        )
    joined = samples.join(F.broadcast(annotations), on=cond, how="left")
    return joined.drop(f"__ann_{trial_key}") if trial_key else joined


def annotation_at_time(
    annotations: DataFrame,
    t: float,
    *,
    track_col: str = "track",
) -> DataFrame:
    """P6/A8: smallest annotation containing time t, episode track first
    (main.py:1052-1057: sort by ``(track != 'episode', end - start)``)."""
    tt = float(t)
    return (
        annotations.filter((F.col("start") <= tt) & (F.col("end") >= tt))
        .orderBy((F.col(track_col) != "episode").cast("int"), F.col("end") - F.col("start"))
        .limit(1)
    )


def asof_lookup(
    df: DataFrame,
    t: float,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
) -> DataFrame:
    """P7/J3: per trial, the row whose time is nearest to t
    (plot3d.py:52-56 ``idxmin`` of ``abs(time - t)``).

    ``min_by`` aggregation — a single map-side-combined agg, no window,
    no sort; ties break on the earlier time like ``argmin``.
    """
    pcols = partition_cols(trial_key)
    tc = F.col(time_col).cast("double")
    key = F.struct(F.abs(tc - F.lit(float(t))).alias("d"), tc.alias("t"))
    picked = df.groupBy(*pcols).agg(
        F.min_by(F.struct(*[F.col(c) for c in df.columns]), key).alias("row")
    )
    return picked.select(*[F.col(f"row.{c}").alias(c) for c in df.columns])


def snap_to_extremum(
    df: DataFrame,
    channel: str,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    reach: int = 3,
) -> DataFrame:
    """P8: for every row, the time of the local argmin/argmax of
    ``channel`` within ±`reach` samples — whichever extremum is farther
    from the current value wins (main.py:979-991: snap picks min when
    ``|max - v| < |min - v|``, else max; ties → max).

    Returns df plus ``snap_time``. Pure window expressions.
    """
    pcols = partition_cols(trial_key)
    ws = Window.partitionBy(*pcols).orderBy(time_col).rowsBetween(-reach, reach)
    c = F.col(channel).cast("double")
    t = F.col(time_col).cast("double")
    # argmax/argmin with earliest-index tie-break, like numpy argmax/argmin
    t_max = F.max_by(F.struct(t.alias("t")), F.struct(c.alias("v"), (-t).alias("nt"))).over(ws)["t"]
    t_min = F.min_by(F.struct(t.alias("t")), F.struct(c.alias("v"), t.alias("t2"))).over(ws)["t"]
    v_max = F.max(c).over(ws)
    v_min = F.min(c).over(ws)
    pick_min = F.abs(v_max - c) < F.abs(v_min - c)
    return df.withColumn("snap_time", F.when(pick_min, t_min).otherwise(t_max))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_cols: list[str],
    right_time_alias: str = "asof_t",
    direction: str = "backward",
    tolerance: float | int | None = None,
) -> DataFrame:
    """General scalable AS-OF JOIN: every left row gains the right row
    with the greatest right time ≤ left time (``backward``; ties
    inclusive) — or the smallest right time ≥ left time (``forward``) —
    per key. The trades⋈quotes / sensor⋈calibration primitive, and the
    table-valued generalization of P7's single-time `asof_lookup`
    (reference plot3d.py:188-204 does one bisect per render tick).

    Spark-first plan — the UNION TRICK, not a range join: tag both
    sides, union them, and take ``last(right value, ignorenulls)`` over
    one (key)-partitioned window ordered by (time, side, tiebreak).
    ONE hash Exchange on the key, one sort, zero BNLJ — a range-join
    formulation would nested-loop O(|L|·|R|) per key at 100 TB scale.
    At equal times the right row sorts BEFORE the left row (side 0 <
    side 1), making the match inclusive, which is DuckDB/pandas
    ``ASOF JOIN`` semantics exactly — so the operator is
    oracle-checkable against a native ASOF engine.

    ``tolerance`` (same units as ``time_col``) mirrors
    ``pandas.merge_asof(tolerance=...)``: a match farther than the
    tolerance from the left time is DROPPED (payload and matched time
    go NULL) — calibration older than its validity window must not
    leak forward. Implemented as a post-filter on the matched struct,
    so the plan is unchanged: still one exchange, one sort.

    ``right`` must be unique per (keys, time) — pre-aggregate if not
    (multiple right rows at the exact matched time make every as-of
    engine's pick arbitrary; uniqueness is what makes the result
    well-defined). Right payload columns (``value_cols``) must not
    collide with left column names; the matched right time surfaces as
    ``right_time_alias``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lt = left.withColumn("__side", F.lit(1))
    # a right row with NULL time has no as-of position either: under the
    # ascending window order NULLs sort FIRST, so every left row preceding
    # any real right row would inherit the NULL-time row's payload (with a
    # NULL asof_t) — a fabricated match no ASOF engine produces. Drop them.
    rt = (
        right.filter(F.col(time_col).isNotNull())
        .select(
            *key_cols,
            F.col(time_col),
            F.col(time_col).alias(right_time_alias),
            *value_cols,
        )
        .withColumn("__side", F.lit(0))
    )
    merged = lt.unionByName(rt, allowMissingColumns=True)
    tcol = F.col(time_col).asc() if direction == "backward" else F.col(time_col).desc()
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(tcol, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the matched right row as ONE struct: per-column
    # last(ignorenulls) would skip a legitimately-NULL payload field and
    # blend values from DIFFERENT right rows (stale value with a newer
    # asof_t). The struct is non-null exactly when a right row exists,
    # so NULL fields inside the true match are preserved.
    carried = [right_time_alias, *value_cols]
    match = F.last(
        F.when(F.col("__side") == 0, F.struct(*[F.col(c) for c in carried])),
        ignorenulls=True,
    ).over(w)
    # a left row with NULL time has no as-of position (ASOF/merge_asof
    # return no match); without this guard the null sorts to an end of
    # the window order and fabricates a match. Times must be non-NaN
    # (NaN has no total-order position either; filter upstream).
    match = F.when(F.col(time_col).isNotNull(), match)
    out = merged.withColumn("__match", match)
    if tolerance is not None:
        gap = (
            F.col(time_col) - F.col("__match")[right_time_alias]
            if direction == "backward"
            else F.col("__match")[right_time_alias] - F.col(time_col)
        )
        out = out.withColumn(
            "__match", F.when(gap <= F.lit(tolerance), F.col("__match"))
        )
    for c in carried:
        out = out.withColumn(c, F.col("__match")[c])
    return out.filter(F.col("__side") == 1).drop("__side", "__match")


def funnel(
    events: DataFrame,
    steps: list[str],
    windows: list[float],
    key_cols: list[str] | None = None,
    time_col: str = "t",
    type_col: str = "event_type",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """General N-step event funnel (r5, generalizing the hardcoded
    view→click→purchase query): for every ``steps[0]`` anchor event,
    chain N−1 FORWARD as-of hops — hop *i* finds the nearest
    ``steps[i]`` event at-or-after the previous hop's matched time, per
    key — and flag anchors whose every hop matched within its
    ``windows[i-1]`` seconds budget.

    Returns the anchor frame with ``t_0`` (anchor time), ``t_1..t_{N-1}``
    (matched hop times, NULL where the chain broke) and boolean
    ``converted``. Aggregate with `funnel_summary` for per-key rates.

    Scale shape: each hop is one `asof_join` — one hash Exchange on the
    key and one sort over (anchors ∪ step events), zero range joins, so
    an N-step funnel is N−1 linear passes regardless of window sizes
    (a range-join formulation degrades with wide windows). A broken hop
    yields a NULL axis time, which the as-of join's NULL-time guard
    propagates as no-match for every later hop — exactly DuckDB's
    chained ``ASOF LEFT JOIN`` semantics, so arbitrary step counts stay
    oracle-checkable (the registry generates the N-step oracle SQL).

    ``steps`` may repeat a type (e.g. click→click retention): each hop
    matches at-or-AFTER the previous matched time, ties inclusive.
    """
    key_cols = key_cols or ["user_id"]
    carry_cols = carry_cols or ["event_id"]
    if len(windows) != len(steps) - 1:
        raise ValueError(
            f"need {len(steps) - 1} windows for {len(steps)} steps, got {len(windows)}"
        )
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .select(*key_cols, *carry_cols, F.col(time_col))
        .withColumn("__t0", F.col(time_col))
    )
    hops: list[str] = []
    for i, step in enumerate(steps[1:], start=1):
        # as-of requires right uniqueness per (key, time): collapse
        # same-instant step events (any of them satisfies the hop)
        right = (
            events.filter(F.col(type_col) == step)
            .select(*key_cols, time_col)
            .dropDuplicates([*key_cols, time_col])
        )
        alias = f"t_{i}"
        cur = asof_join(
            cur, right, key_cols, time_col, [], right_time_alias=alias,
            direction="forward",
        ).withColumn(time_col, F.col(alias))
        hops.append(alias)
    conv = F.lit(True)
    prev = "__t0"
    for alias, w in zip(hops, windows):
        conv = conv & F.col(alias).isNotNull() & (F.col(alias) - F.col(prev) <= w)
        prev = alias
    return cur.select(
        *key_cols,
        *carry_cols,
        F.col("__t0").alias("t_0"),
        *hops,
        conv.alias("converted"),
    )


def funnel_summary(
    hop_frame: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Per-key funnel rollup of a `funnel` result: anchor count and
    fully-converted count (map-side-combined, one exchange)."""
    key_cols = key_cols or ["user_id"]
    return hop_frame.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.sum(F.col("converted").cast("long")).alias("n_converted"),
    )


def interp_asof_join(
    queries: DataFrame,
    series: DataFrame,
    key_col: str = "user_id",
    time_col: str = "t_us",
    id_col: str = "event_id",
    value_col: str = "value",
    out_col: str = "v_interp",
) -> DataFrame:
    """Linearly INTERPOLATED as-of join: for each query row, the series
    value lerped between the bracketing samples at or around the query
    time — the resample-against-an-irregular-grid primitive (kdb's
    ``aj`` + interpolation; sensor fusion onto a master clock). The
    reference interpolates WITHIN one channel on its own grid
    (`filter_engine.py` interpolate); this is the two-table form its
    overlay workflow implies: evaluate channel B at channel A's
    timestamps. Complements `asof_join` (J3), which snaps to the
    previous sample only.

    Semantics: prev = series row with the greatest ``t ≤ t_q``
    (equal-time samples count, ties broken by ``id_col``), next = the
    least ``t ≥ t_q``; result = v0 + (v1−v0)·(t_q−t0)/(t1−t0), v0 when
    the bracket is degenerate (t1 = t0), NULL when either side is
    missing (strict interior interpolation — no extrapolation).

    Plan: single-exchange union trick, NOT a join: tag both tables,
    union them, and resolve prev/next with two IGNORE-NULLS window
    passes over the same ``key_col`` partition (one Exchange, two
    in-partition sorts). The equal-time edge rides the tag's place in
    each sort order: views sort BEFORE queries for the backward pass
    (so an equal-time sample is the prev) and AFTER for the forward
    pass (so it is also the next). All times integer micros; ONE
    double division per row, identical formula both engines, then the
    shared rounding grid.
    """
    s = series.select(
        F.col(key_col),
        F.col(time_col).alias("__t"),
        F.lit(0).alias("__tag"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    )
    q = queries.select(
        F.col(key_col),
        F.col(time_col).alias("__t"),
        F.lit(1).alias("__tag"),
        F.col(id_col).alias("__id"),
        F.lit(None).cast("double").alias("__v"),
    )
    u = s.unionByName(q)
    sample = F.when(
        F.col("__tag") == 0, F.struct(F.col("__t").alias("t"), F.col("__v").alias("v"))
    )
    wb = (
        Window.partitionBy(key_col)
        .orderBy(F.col("__t").asc(), F.col("__tag").asc(), F.col("__id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(F.col("__t").asc(), F.col("__tag").desc(), F.col("__id").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    m = u.select(
        F.col(key_col),
        "__t",
        "__tag",
        "__id",
        F.last(sample, ignorenulls=True).over(wb).alias("__prev"),
        F.first(sample, ignorenulls=True).over(wf).alias("__next"),
    ).filter(F.col("__tag") == 1)
    t0, v0 = F.col("__prev.t"), F.col("__prev.v")
    t1, v1 = F.col("__next.t"), F.col("__next.v")
    frac = (F.col("__t") - t0).cast("double") / (t1 - t0).cast("double")
    lerp = F.when(t1 == t0, rd(v0, 6)).otherwise(rd(v0 + (v1 - v0) * frac, 6))
    return m.select(
        F.col(key_col),
        F.col("__id").alias(id_col),
        F.col("__t").alias(time_col),
        t0.alias("t_prev_us"),
        t1.alias("t_next_us"),
        F.when(F.col("__prev").isNotNull() & F.col("__next").isNotNull(), lerp)
        .alias(out_col),
    )
