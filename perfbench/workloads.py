"""The two workloads: what one pass runs and how its outputs are checked.

A pass is a list of operations run one at a time by one client (a closed
loop). An operation is one registered query (``ts_clean``) or one
TrialFrame verb (``trial_session``). Each operation has a build
step, which calls into the program and may return a DataFrame, and an
optional action that runs it to completion.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import inputs

#: The query list. A run pays ~20 s of set-up (three JVM launches) and a
#: 15-21 s cold pass, so a steady pass must stay within a few seconds on
#: 4 cores for all runs of the benchmark to fit its time budget;
#: NOTES.md records which queries of the fuller lists were left out and
#: why. The last one is a Structured Streaming query (availableNow, state
#: store, memory sink), which does its work inside the query function.
TS_CLEAN = ["f6_detrend", "a4_episode_overlay", "f3_savgol", "f4_butter_lowpass_fallback", "stream_tumbling_hour_agg"]
#: the table these queries read: ``events`` of the driver's seeded data
#: at sf0.01, the scale of its oracle checks
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass
class Op:
    name: str
    #: "queries" for a registered batch query, "streaming" for a
    #: registered streaming query (it starts, runs and stops its query
    #: inside the call), "trialframe" for a verb
    layer: str
    build: Callable[[], Any]
    action: Callable[[Any], Any] | None = None


def run_planned(df) -> None:
    """Run the query to completion and discard its rows, through the
    DataFrame's own QueryExecution: a noop-sink write would plan the query
    again inside a new one, so the traced run's plan span (which plans
    this same QueryExecution) would not be the planning the action uses."""
    df._jdf.queryExecution().toRdd().count()


def load_check_oracle(root: str):
    """Import ``scripts/check_oracle.py`` for its DuckDB oracle and exact
    compare. Its module-level argument parsing reads ``sys.argv``, so it
    is imported under a neutral one."""
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    saved = sys.argv
    sys.argv = [spec.origin]
    try:
        spec.loader.exec_module(module)
    finally:
        sys.argv = saved
    return module


class QueryWorkload:
    """Registered queries over the driver's seeded sf0.01 ``events`` table
    (a byte-identical copy in ``perfbench/data``); the seed fixes the query
    order. Steady passes run each query to completion and discard its
    rows; the cold pass collects every result for the check."""

    def __init__(self, queries: list[str]) -> None:
        self.queries = queries
        self.sf_dir = SF_DIR
        self.order: list[str] = []
        self.outputs: dict[str, pd.DataFrame] = {}

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.order = [self.queries[i] for i in np.random.default_rng(seed).permutation(len(self.queries))]

    def ops(self, collect: bool = False) -> list[Op]:
        import __spark_entry__

        registry = __spark_entry__.queries()
        return [
            Op(
                name,
                "streaming" if name.startswith("stream_") else "queries",
                lambda fn=registry[name]: fn(self.spark, self.sf_dir),
                (lambda df, name=name: self.outputs.__setitem__(name, df.toPandas())) if collect else run_planned,
            )
            for name in self.order
        ]

    def before_pass(self) -> None:
        self.outputs = {}

    def pass_notes(self) -> dict[str, float]:
        return {}

    def after_pass(self) -> None:
        """Drop the ``st_*`` temp views each streaming query registers for
        its memory sink: they hold their rows on the driver and would pile
        up across passes."""
        for table in self.spark.catalog.listTables():
            if table.isTemporary and table.name.startswith("st_"):
                self.spark.catalog.dropTempView(table.name)
        self.spark.streams.resetTerminated()

    def check(self, root: str) -> dict[str, list[str]]:
        """The collected results against each query's DuckDB oracle, with
        the exact compare of ``scripts/check_oracle.py``. A query that
        raised has no result here; it was already counted as failed."""
        import __spark_entry__

        co = load_check_oracle(root)
        con = co.duck_connect(self.sf_dir)
        oracles = __spark_entry__.oracle_sql()
        problems: dict[str, list[str]] = {}
        try:
            for name, got in self.outputs.items():
                found = co.compare(name, got, con.execute(oracles[name]).fetchdf())
                if found:
                    problems[name] = found
        finally:
            con.close()
        return problems


def _rd3(x: np.ndarray) -> np.ndarray:
    """The engine's IEEE-stable round-half-up to 3 decimals."""
    return np.floor(x * 1000.0 + 0.5) / 1000.0


def edit_script(seed: int, rounds: int, duration: float) -> list[dict]:
    """A seeded single-user cleaning session over trials of ``duration``
    seconds: load; ``rounds`` of filter, preview and delete, so edits
    stack on the lineage; mark, undo and redo; then slice, suggest and
    save. With three rounds, six verbs return at once and ten run Spark
    jobs, so the median verb latency falls between two of the three
    ``delete_segment`` calls rather than between two kinds of verb."""
    rng = np.random.default_rng(seed + 2)
    channels = ["gaze_heading_deg", "head_heading_deg", "chest_heading_deg"]
    steps: list[dict] = [{"verb": "load_csv"}]
    span = duration
    for _ in range(rounds):
        start = round(float(rng.uniform(0.5, span * 0.6)), 3)
        width = round(float(rng.uniform(0.2, 0.8)), 3)
        steps += [
            {"verb": "apply", "channel": channels[int(rng.integers(3))], "window": int(rng.integers(3, 12))},
            {"verb": "preview", "channel": channels[int(rng.integers(3))], "window": int(rng.integers(3, 12))},
            {"verb": "delete_segment", "start": start, "end": round(start + width, 3)},
        ]
        span -= width
    mark = round(float(rng.uniform(0.0, span * 0.5)), 3)
    sl = round(float(rng.uniform(0.0, span * 0.5)), 3)
    return steps + [
        {"verb": "mark_bad", "start": mark, "end": round(mark + 0.5, 3)},
        {"verb": "undo"},
        {"verb": "redo"},
        {"verb": "take_time_slice", "start": sl, "end": round(sl + 1.0, 3)},
        {"verb": "suggest"},
        {"verb": "save_clean"},
    ]


class TrialSession:
    """A seeded TrialFrame session over generated kinematics CSV trials.

    Every pass records the row count of each preview, the (trial, time)
    rows of each slice and the saved output; the check compares them
    with a pandas replay of the same edit script. Its verbs collect
    their results in every pass, so ``collect`` changes nothing."""

    def __init__(self, trials: int, rows: int, rounds: int) -> None:
        self.trials, self.rows, self.rounds = trials, rows, rounds
        self.records: dict[int, Any] = {}

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.paths = inputs.write_trials(os.path.join(work, "trials"), seed, self.trials, self.rows)
        self.out_dir = os.path.join(work, "clean")
        self.script = edit_script(seed, self.rounds, self.rows / 120.0)

    def before_pass(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.records = {}

    def pass_notes(self) -> dict[str, float]:
        """Traced-pass values only the session knows: the analyzed-plan
        size of the frame the session ends with."""
        from perfbench.ledger import analyzed_depth

        return {"trialframe.plan_depth": analyzed_depth(self.frame.df)}

    def after_pass(self) -> None:
        pass

    def ops(self, collect: bool = False) -> list[Op]:
        from time_series_data_trimmer_spark.trialframe import TrialFrame

        tf = TrialFrame(self.spark, trial_key="trial_id")
        self.frame = tf
        out: list[Op] = []
        for i, st in enumerate(self.script):
            verb = st["verb"]
            if verb == "load_csv":
                out.append(Op(verb, "trialframe", lambda: tf.load_csv(self.paths)))
            elif verb == "apply":
                out.append(Op(verb, "trialframe", lambda st=st: tf.apply([st["channel"]], "moving_average", {"window": st["window"]})))
            elif verb == "preview":
                out.append(
                    Op(verb, "trialframe",
                       lambda st=st: tf.preview([st["channel"]], "moving_average", {"window": st["window"]}),
                       lambda df, i=i: self.records.__setitem__(i, len(df.collect())))
                )
            elif verb in ("delete_segment", "mark_bad"):
                out.append(Op(verb, "trialframe", lambda st=st, v=verb: getattr(tf, v)(st["start"], st["end"])))
            elif verb in ("undo", "redo"):
                out.append(Op(verb, "trialframe", getattr(tf, verb)))
            elif verb == "suggest":
                out.append(Op(verb, "trialframe", tf.suggest, lambda df: df.collect()))
            elif verb == "take_time_slice":
                out.append(
                    Op(verb, "trialframe",
                       lambda st=st: tf.take_time_slice(st["start"], st["end"]).select("trial_id", "normalized_time"),
                       lambda df, i=i: self.records.__setitem__(i, sorted((r[0], r[1]) for r in df.collect())))
                )
            elif verb == "save_clean":
                out.append(Op(verb, "trialframe", lambda: tf.save_clean(self.out_dir)))
        return out

    def replay(self) -> tuple[dict[int, Any], list[tuple[str, float]]]:
        """The edit script in pandas: per-step expected outputs and the
        expected saved (trial, time) rows."""
        state = {}
        for p in self.paths:
            trial = os.path.splitext(os.path.basename(p))[0]
            state[trial] = pd.read_csv(p, usecols=["normalized_time"], float_precision="round_trip")[
                "normalized_time"
            ].to_numpy()
        undo: list[dict] = []
        redo: list[dict] = []
        expect: dict[int, Any] = {}
        for i, st in enumerate(self.script):
            verb = st["verb"]
            if verb in ("apply", "mark_bad", "delete_segment"):
                undo.append(state)
                redo = []
            if verb == "delete_segment":
                new = {}
                for trial, t in state.items():
                    kept = t[(t < st["start"]) | (t > st["end"])]
                    d = np.diff(kept)
                    d = d[d > 0]
                    dt = _rd3(np.array([np.median(d) if len(d) else 1.0 / 120.0]))[0]
                    new[trial] = _rd3(np.arange(len(kept), dtype=np.float64) * dt)
                state = new
            elif verb == "undo" and undo:
                redo.append(state)
                state = undo.pop()
            elif verb == "redo" and redo:
                undo.append(state)
                state = redo.pop()
            elif verb == "preview":
                expect[i] = sum(len(t) for t in state.values())
            elif verb == "take_time_slice":
                expect[i] = sorted(
                    (trial, float(x)) for trial, t in state.items() for x in t if st["start"] <= x <= st["end"]
                )
        saved = sorted((trial, float(x)) for trial, t in state.items() for x in t)
        return expect, saved

    def check(self, root: str) -> dict[str, list[str]]:
        """The recorded outputs of the last pass against the pandas replay."""
        import pyarrow.parquet as pq

        expect, saved = self.replay()
        problems: dict[str, list[str]] = {}
        for i, want in expect.items():
            got = self.records.get(i)
            if got != want:
                verb = self.script[i]["verb"]
                size = (lambda v: v if isinstance(v, int) else len(v or []))
                problems.setdefault(verb, []).append(f"step {i}: {size(got)} rows vs replay {size(want)}")
        try:
            table = pq.read_table(self.out_dir, columns=["trial_id", "normalized_time"]).to_pandas()
            got_saved = sorted(zip(table["trial_id"].astype(str), table["normalized_time"].astype(float)))
            if got_saved != saved:
                problems.setdefault("save_clean", []).append(
                    f"saved {len(got_saved)} rows vs replay {len(saved)} (or time axis differs)"
                )
        except (OSError, KeyError) as exc:
            problems.setdefault("save_clean", []).append(f"{type(exc).__name__}: {exc}")
        return problems


def make(name: str, small: bool = False):
    """The workload ``name``; ``small`` shrinks the trial session for the
    self-test (the batch tables are small already)."""
    if name == "ts_clean":
        return QueryWorkload(TS_CLEAN)
    if name == "trial_session":
        return TrialSession(trials=2, rows=600, rounds=1) if small else TrialSession(trials=3, rows=2000, rounds=3)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ts_clean", "trial_session")
