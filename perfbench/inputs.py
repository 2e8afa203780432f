"""Seeded trial CSVs for the ``trial_session`` workload.

Every trial follows the kinematics-trial fixture (FIXTURES.md, fixture
2). The same seed gives byte-identical files; the row counts depend only
on the size arguments, never on the seed, so runs with different seeds
do the same amount of work. The batch workloads read the driver's own
tables instead (``perfbench/data``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def _heading(rng: np.random.Generator, n: int) -> np.ndarray:
    walk = np.cumsum(rng.normal(scale=0.8, size=n)) + rng.uniform(-180, 180)
    return (walk + 180.0) % 360.0 - 180.0


def trial_frame(rng: np.random.Generator, idx: int, rows: int, fs: float = 120.0) -> pd.DataFrame:
    """One kinematics trial at ``fs`` Hz with NaN gaps, derivative
    spikes and 3-5 contiguous episodes."""
    gaze = _heading(rng, rows)
    spikes = rng.choice(rows, size=max(1, rows // 500), replace=False)
    gaze[spikes] += rng.choice([-1.0, 1.0], size=len(spikes)) * 90.0
    fixation = rng.normal(200.0, 40.0, size=rows)
    for start in rng.choice(rows - 20, size=max(1, rows // 800), replace=False):
        fixation[start : start + int(rng.integers(5, 20))] = np.nan
    bounds = np.sort(rng.choice(np.arange(1, rows), size=int(rng.integers(2, 5)), replace=False))
    episode = np.searchsorted(bounds, np.arange(rows), side="right")
    ep_types = np.array(["inspection", "action"])[episode % 2]
    return pd.DataFrame(
        {
            "normalized_time": np.arange(rows) / fs,
            "gaze_heading_deg": np.round(gaze, 4),
            "head_heading_deg": np.round(_heading(rng, rows), 4),
            "chest_heading_deg": np.round(_heading(rng, rows), 4),
            "fixation id": np.round(fixation, 3),
            "LSL_timestamp": np.round(5000.0 + idx * 100.0 + np.arange(rows) / fs, 6),
            "participant_id": f"P{idx % 3:02d}",
            "condition": "stand" if idx % 2 == 0 else "sit",
            "episode_index": episode,
            "episode_type": ep_types,
        }
    )


def write_trials(trial_dir: str, seed: int, trials: int, rows: int) -> list[str]:
    """Write ``trials`` CSV files (NaN cells as ``nan``/``NaN``/empty,
    the reference's sentinels) and return their paths in trial order."""
    os.makedirs(trial_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    paths = []
    for i in range(trials):
        frame = trial_frame(rng, i, rows)
        text = frame.to_csv(index=False, na_rep="nan")
        # mix the three sentinel spellings the reader must normalise
        third = text.count(",nan,") // 3
        text = text.replace(",nan,", ",NaN,", third).replace(",nan,", ",,", third)
        path = os.path.join(trial_dir, f"trial_{i:02d}.csv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        paths.append(path)
    return paths
