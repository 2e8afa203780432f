"""Sources & sinks (SURVEY §2.1 S1–S9).

CSV trials with NaN-sentinel normalization, multi-trial provenance via
``input_file_name`` (the reference's per-file loop becomes one
distributed scan), and the small JSON sidecars (annotations, project
catalog, plugins) as driver-side I/O.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: sentinel strings normalized to null on load (data_model.py:69)
NAN_SENTINELS = ("", "nan", "NaN")


def read_trial_csv(
    spark: SparkSession,
    path: str | Sequence[str],
    *,
    trial_key: str | None = "trial_id",
    infer_schema: bool = True,
) -> DataFrame:
    """S1 + S9: CSV scan with NaN normalization; a list of paths becomes
    one union scan with a ``trial_id`` provenance column derived from
    the file name (dialogs.py:647-661 overlay reader, done Spark-side).

    ``nanValue``/``nullValue`` options make the sentinel handling happen
    inside the scan (no post-pass over the data).
    """
    paths = [path] if isinstance(path, str) else list(path)
    reader = (
        spark.read.option("header", True)
        .option("nullValue", "")
        .option("nanValue", "nan")
    )
    if infer_schema:
        reader = reader.option("inferSchema", True)
    df = reader.csv(paths)
    # belt-and-braces: string-typed sentinel cells → null
    string_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "string"]
    if string_cols:
        df = df.replace(list(NAN_SENTINELS), None, subset=string_cols)
    # numeric 'nan'/'NaN' cells: the csv nanValue option parses them to
    # Double.NaN, but the engine's missing-value representation is null
    # (the pandas reference skips NaN via min_periods=1 rolling windows,
    # data_model.py:68 — Spark avg/stddev/max would PROPAGATE NaN and
    # poison whole windows). Normalize on the float columns too.
    float_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "float")
    ]
    for c in float_cols:
        df = df.withColumn(c, F.when(F.isnan(F.col(c)), None).otherwise(F.col(c)))
    if trial_key and trial_key not in df.columns:
        df = df.withColumn(
            trial_key,
            F.regexp_replace(
                F.element_at(F.split(F.input_file_name(), "/"), -1), r"\.[^.]*$", ""
            ),
        )
    return df


# ---------------------------------------------------------------------------
# S7: project catalog (project_manager.py:10-72)
# ---------------------------------------------------------------------------

TRIAL_STATUSES = ("unloaded", "loaded", "cleaned", "exported")


@dataclass
class TrialEntry:
    path: str
    participant: str = ""
    condition: str = ""
    status: str = "unloaded"
    summary: str = ""
    notes: str = ""


@dataclass
class Recipe:
    name: str
    operations: list = field(default_factory=list)


class ProjectCatalog:
    """Multi-trial catalog + recipes + preferences (project_manager.py).

    Driver-side JSON persistence; ``to_df`` exposes the catalog as a
    manifest DataFrame for distributed recipe application (SURVEY §3.3).
    """

    def __init__(self) -> None:
        self.trials: list[TrialEntry] = []
        self.recipes: list[Recipe] = []
        self.preferences: dict = {"default_fs": 120.0, "default_output_dir": ""}

    def add_trial(self, path: str, participant: str = "", condition: str = "") -> TrialEntry:
        entry = TrialEntry(path=path, participant=participant, condition=condition)
        self.trials.append(entry)
        return entry

    def update_status(self, path: str, status: str, summary: str = "") -> None:
        for t in self.trials:
            if t.path == path:
                t.status = status
                if summary:
                    t.summary = summary

    def save(self, path: str) -> None:
        data = {
            "trials": [vars(t) for t in self.trials],
            "recipes": [{"name": r.name, "operations": r.operations} for r in self.recipes],
            "preferences": self.preferences,
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=2)

    @classmethod
    def load(cls, path: str) -> "ProjectCatalog":
        with open(path, "r", encoding="utf-8") as f:
            data = json.load(f)
        cat = cls()
        cat.trials = [TrialEntry(**t) for t in data.get("trials", [])]
        cat.recipes = [Recipe(**r) for r in data.get("recipes", [])]
        cat.preferences.update(data.get("preferences", {}))
        return cat

    def to_df(self, spark: SparkSession) -> DataFrame:
        if not self.trials:
            return spark.createDataFrame(
                [], "path string, participant string, condition string, status string, summary string, notes string"
            )
        return spark.createDataFrame([vars(t) for t in self.trials])


# ---------------------------------------------------------------------------
# S8: plugin discovery (plugin_system.py:19-32)
# ---------------------------------------------------------------------------


def load_plugins(plugin_dir: str) -> dict[str, dict]:
    """Load ``*.json`` / ``*.plugin`` op-spec files from a directory."""
    plugins: dict[str, dict] = {}
    if not os.path.isdir(plugin_dir):
        return plugins
    for fn in sorted(os.listdir(plugin_dir)):
        if not fn.endswith((".json", ".plugin")):
            continue
        try:
            with open(os.path.join(plugin_dir, fn), "r", encoding="utf-8") as f:
                spec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        name = spec.get("name") or os.path.splitext(fn)[0]
        plugins[name] = spec
    return plugins
