"""Schema classification and invariant columns (SURVEY §1.3, §2.1 S2/S3).

Re-expresses the reference's dynamic column classifier
(``/root/reference/data_model.py:84-114``) over a Spark ``StructType``:
columns split into a time axis, numeric signal channels, and metadata,
plus the auto-created ``is_bad_segment`` mask and a fabricated
``normalized_time`` axis when none exists.

All pure driver-side metadata logic — no jobs are triggered.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType

DEFAULT_SAMPLE_RATE = 120.0  # reference fallback: data_model.py:56,126


def partition_cols(trial_key: str | Sequence[str] | None) -> list[str]:
    """The trial key as a list of partition columns (empty for None)."""
    if not trial_key:
        return []
    return [trial_key] if isinstance(trial_key, str) else list(trial_key)

#: name-token → display group, mirroring the cosmetic grouping heuristic
#: at data_model.py:310-357 (order matters: first match wins).
SIGNAL_GROUP_TOKENS = (
    ("gaze", "Gaze"),
    ("head", "Head"),
    ("chest", "Chest"),
    ("foot", "Feet"),
    ("feet", "Feet"),
    ("chair", "Chair"),
    ("ws_", "Workspace"),
    ("workspace", "Workspace"),
    ("sc_", "Screen"),
    ("screen", "Screen"),
    ("pos", "Position"),
    ("quat", "Orientation-Quat"),
    ("fixation", "Fixation"),
)


@dataclass
class ColumnClassification:
    """Result of classifying a trial schema (data_model.py:84-103)."""

    time_column: str | None
    signal_columns: list[str] = field(default_factory=list)
    metadata_columns: list[str] = field(default_factory=list)
    mask_column: str | None = None


def classify_columns(df: DataFrame) -> ColumnClassification:
    """Split a schema into time / signal / metadata columns.

    Mirrors data_model.py:84-103: any column whose lowercase name
    contains ``"time"`` is a time candidate (``normalized_time``
    preferred); remaining numeric columns are signals; the rest is
    metadata. ``is_bad_segment`` (boolean) is tracked separately.
    """
    time_candidates = [f.name for f in df.schema.fields if "time" in f.name.lower()]
    time_column: str | None = None
    if "normalized_time" in time_candidates:
        time_column = "normalized_time"
    elif time_candidates:
        time_column = time_candidates[0]

    signals: list[str] = []
    metadata: list[str] = []
    mask: str | None = None
    for f in df.schema.fields:
        if f.name == time_column:
            continue
        if f.name == "is_bad_segment" and isinstance(f.dataType, BooleanType):
            mask = f.name
            continue
        if isinstance(f.dataType, NumericType):
            signals.append(f.name)
        else:
            metadata.append(f.name)
    return ColumnClassification(time_column, signals, metadata, mask)


def signal_group(column_name: str) -> str:
    """Cosmetic channel grouping by name token (data_model.py:326-355)."""
    low = column_name.lower()
    for token, group in SIGNAL_GROUP_TOKENS:
        if token in low:
            return group
    return "Other"


def ensure_bad_mask(df: DataFrame) -> DataFrame:
    """Add ``is_bad_segment = false`` when absent (data_model.py:105-109)."""
    if "is_bad_segment" in df.columns:
        return df
    return df.withColumn("is_bad_segment", F.lit(False))


def ensure_time_axis(
    df: DataFrame,
    trial_key: str | None = None,
    sample_rate: float = DEFAULT_SAMPLE_RATE,
    order_by: str | None = None,
) -> DataFrame:
    """Fabricate ``normalized_time = row_index / fs`` when no time axis
    exists (data_model.py:110-114).

    At scale the row index comes from ``row_number`` over the trial
    partition — one shuffle keyed by ``trial_key`` that every subsequent
    windowed operator reuses.

    With ``trial_key=None`` AND no ``order_by``, the window is global
    and ordered by ``monotonically_increasing_id()`` — Spark must plan
    a SINGLE-partition sort, which is only acceptable for one-trial
    frames that fit one executor. That combination therefore RAISES
    when the input spans more than one partition (the ids are only
    ordered within a partition, so the fabricated axis would depend on
    partition layout AND the sort would funnel everything through one
    task); single-partition input still gets a warning.
    """
    if classify_columns(df).time_column is not None:
        return df
    if trial_key is None and order_by is None:
        if df.rdd.getNumPartitions() > 1:
            raise ValueError(
                "ensure_time_axis without trial_key/order_by on multi-partition "
                "input: monotonically_increasing_id() is only ordered within a "
                "partition and the global window would plan a single-partition "
                "sort — pass trial_key (or order_by) instead"
            )
        import warnings

        warnings.warn(
            "ensure_time_axis without trial_key/order_by plans a global "
            "single-partition sort; pass trial_key for multi-trial data",
            stacklevel=2,
        )
    w = Window.partitionBy(*( [trial_key] if trial_key else [] ))
    w = w.orderBy(order_by) if order_by else w.orderBy(F.monotonically_increasing_id())
    return df.withColumn(
        "normalized_time", (F.row_number().over(w) - F.lit(1)) / F.lit(float(sample_rate))
    )
