"""The traced run's layer ledger.

Spans are recorded around the benchmark's own calls into each layer and
around the PySpark reader/writer methods (the ``sources`` boundary); the
program itself is not changed. Every span that can start Spark jobs gets
its own job group, so the event log attributes each job, stage and task
to exactly one span. Spans stay in memory and are written out once, at
the end of the run, together with the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

#: every per-layer metric the traced run reports, with its unit
PER_LAYER = {
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "plan.s": "s",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.slot_util": "ratio",
    "kernel.python_rows": "count",
    "kernel.python_bytes": "bytes",
    "kernel.stage_run_s": "s",
    "stream.run_s": "s",
    "stream.batches": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_s": "s",
    "stream.call_s": "s",
    "trialframe.load_s": "s",
    "trialframe.preview_s": "s",
    "trialframe.delete_s": "s",
    "trialframe.suggest_s": "s",
    "trialframe.save_s": "s",
    "trialframe.eager_jobs": "count",
    "trialframe.plan_depth": "count",
    "driver.no_job_s": "s",
    "trace.overhead_frac": "ratio",
}

#: TrialFrame verbs whose wall time (the call plus the collect the user
#: asked for) is reported per verb
TRIALFRAME_TIMED = {
    "load_csv": "trialframe.load_s",
    "preview": "trialframe.preview_s",
    "delete_segment": "trialframe.delete_s",
    "suggest": "trialframe.suggest_s",
    "save_clean": "trialframe.save_s",
}
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
_GROUP = "spark.jobGroup.id"
# a plan line: tree prefix, optional codegen stage marker "*(n) ", operator
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?[A-Z]")
_EXCHANGE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(?:Exchange|BroadcastExchange)\b")


@dataclass
class Span:
    id: int
    pass_no: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class _StreamListener(StreamingQueryListener):
    """Collects streaming progress events (state-store rows, bytes and
    commit time per micro-batch) from the listener bus."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        with self.lock:
            self.progress.append(
                {
                    "id": str(p.id),
                    "trigger_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "commit_ms": sum(o.commitTimeMs for o in ops),
                }
            )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self.lock:
            self.terminated += 1

    def drain(self, timeout: float = 10.0) -> list[dict]:
        """Wait until every started query has reported termination, then
        hand over and reset the collected progress."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self.lock:
            out, self.progress = self.progress, []
            self.started = self.terminated = 0
        return out


def plan_shape(df: DataFrame) -> tuple[int, int]:
    """(node count, exchange count) of the executed physical plan."""
    lines = df._jdf.queryExecution().executedPlan().treeString().splitlines()
    return sum(1 for ln in lines if _NODE.match(ln)), sum(1 for ln in lines if _EXCHANGE.match(ln))


def analyzed_depth(df: DataFrame) -> int:
    """Node count of the analyzed logical plan."""
    lines = df._jdf.queryExecution().analyzed().treeString().splitlines()
    return sum(1 for ln in lines if _NODE.match(ln))


def _tree_size(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Ledger:
    """Spans + job groups for one traced run."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.pass_no = -1
        self.passes: list[dict] = []
        self.writes: dict[int, tuple[int, int]] = {}
        self.stream_progress: dict[int, list[dict]] = {}
        self.extra: dict[int, dict] = {}
        self.listener = _StreamListener()
        self._patched: list[tuple[type, str, object]] = []

    # -- span recording ---------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str, jobs: bool = True, op: int | None = None):
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), self.pass_no, layer, name, parent.id if parent else None, 0.0)
        sp.op = op if op is not None else (parent.op if parent else None)
        self.spans.append(sp)
        prev = None
        if jobs:
            sp.group = f"perfbench-{sp.id}"
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, sp.group)
        self.stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            if jobs:
                self.sc.setLocalProperty(_GROUP, prev)

    @contextlib.contextmanager
    def traced_pass(self, pass_no: int):
        """One traced pass; its wall time is kept for ``driver.no_job_s``."""
        self.pass_no = pass_no
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.stream_progress[pass_no] = self.listener.drain()
            self.passes.append({"pass": pass_no, "start": t0, "end": t1})

    def note(self, values: dict[str, float]) -> None:
        """Per-pass values measured by the workload itself."""
        self.extra.setdefault(self.pass_no, {}).update(values)

    def run_op(self, op, idx: int) -> None:
        """One operation with its spans: the build call in the op's own
        layer, then planning and the action."""
        with self.span("op", op.name, jobs=False, op=idx):
            with self.span(op.layer, op.name):
                df = op.build()
            if op.action:
                with self.span("plan", op.name) as sp:
                    sp.attrs["nodes"], sp.attrs["exchanges"] = plan_shape(df)
                with self.span("exec", op.name):
                    op.action(df)

    # -- the PySpark sources boundary -------------------------------------
    def install(self) -> None:
        self.spark.streams.addListener(self.listener)
        for cls, names, layer in (
            (DataFrameReader, ("parquet", "csv", "json", "load"), "sources.read"),
            (DataFrameWriter, ("parquet", "csv"), "sources.write"),
        ):
            for name in names:
                orig = getattr(cls, name)
                self._patched.append((cls, name, orig))
                setattr(cls, name, self._wrap(orig, layer, name))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()
        self.spark.streams.removeListener(self.listener)

    def _wrap(self, orig, layer: str, name: str):
        ledger = self

        def wrapper(this, *args, **kwargs):
            if ledger.pass_no < 0 or (ledger.stack and ledger.stack[-1].layer.startswith("sources")):
                return orig(this, *args, **kwargs)
            with ledger.span(layer, name) as sp:
                out = orig(this, *args, **kwargs)
            path = args[0] if args else kwargs.get("path")
            if layer == "sources.write" and isinstance(path, str):
                ledger.writes[sp.id] = _tree_size(path)
            return out

        wrapper.__wrapped__ = orig
        return wrapper

    # -- the event log ----------------------------------------------------
    @staticmethod
    def read_event_log(log_dir: str, app_id: str) -> dict:
        """Jobs (group, submit, end, stages) and per-stage task data."""
        paths = glob.glob(os.path.join(log_dir, app_id + "*"))
        if not paths:
            raise RuntimeError(f"no event log for {app_id} in {log_dir}")
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: dict[int, list[dict]] = {}
        with open(paths[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get(_GROUP),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    rows_in = sr.get("Total Records Read", 0) + (m.get("Input Metrics") or {}).get("Records Read", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "py_sent": _num(acc.get(PY_SENT)),
                            "py_recv": _num(acc.get(PY_RECEIVED)),
                            "rows_in": rows_in,
                        }
                    )
        return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}

    # -- aggregation --------------------------------------------------------
    def metrics(self, log: dict, overhead_frac: float) -> dict[str, float]:
        """Per-layer metrics: each is computed per traced pass and the
        median over the traced passes is reported."""
        per_pass = [self._pass_metrics(p, log) for p in self.passes]
        out = {k: float(statistics.median(m[k] for m in per_pass)) for k in PER_LAYER if k != "trace.overhead_frac"}
        out["trace.overhead_frac"] = overhead_frac
        return out

    def _pass_metrics(self, window: dict, log: dict) -> dict[str, float]:
        p = window["pass"]
        spans = [s for s in self.spans if s.pass_no == p]
        by_id = {s.id: s for s in spans}
        jobs_by_group: dict[str, list[int]] = {}
        for jid, job in log["jobs"].items():
            jobs_by_group.setdefault(job["group"], []).append(jid)

        def dur(layer: str, name: str | None = None) -> float:
            return sum(s.end - s.start for s in spans if s.layer == layer and (name is None or s.name == name))

        def njobs(pred) -> int:
            return sum(len(jobs_by_group.get(s.group, [])) for s in spans if s.group and pred(s))

        def under(s: Span, layer: str) -> bool:
            while s.parent is not None:
                s = by_id[s.parent]
                if s.layer == layer:
                    return True
            return False

        m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        reads = [s for s in spans if s.layer == "sources.read"]
        m["sources.read_calls"] = len(reads)
        m["sources.read_s"] = dur("sources.read")
        m["sources.read_jobs"] = njobs(lambda s: s.layer == "sources.read")
        m["sources.write_s"] = dur("sources.write")
        for s in spans:
            if s.id in self.writes:
                m["sources.write_bytes"] += self.writes[s.id][0]
                m["sources.write_files"] += self.writes[s.id][1]
        m["queries.build_s"] = dur("queries")
        m["queries.build_self_s"] = m["queries.build_s"] - sum(
            s.end - s.start for s in reads if under(s, "queries")
        )
        m["queries.build_jobs"] = njobs(lambda s: s.layer == "queries" or (s.layer.startswith("sources") and under(s, "queries")))
        m["plan.s"] = dur("plan")
        m["plan.nodes"] = sum(s.attrs.get("nodes", 0) for s in spans)
        m["plan.exchanges"] = sum(s.attrs.get("exchanges", 0) for s in spans)

        exec_groups = {s.group for s in spans if s.layer == "exec"}
        exec_jobs = [j for g in exec_groups for j in jobs_by_group.get(g, [])]
        exec_stages = sorted({sid for sid, jid in log["stage_job"].items() if jid in set(exec_jobs) and sid in log["tasks"]})
        exec_tasks = [t for sid in exec_stages for t in log["tasks"][sid]]
        m["exec.s"] = dur("exec")
        m["exec.jobs"] = len(exec_jobs)
        m["exec.stages"] = len(exec_stages)
        m["exec.tasks"] = len(exec_tasks)
        m["exec.executor_run_s"] = sum(t["run"] for t in exec_tasks)
        m["exec.gc_s"] = sum(t["gc"] for t in exec_tasks)
        m["exec.shuffle_read_bytes"] = sum(t["sr"] for t in exec_tasks)
        m["exec.shuffle_write_bytes"] = sum(t["sw"] for t in exec_tasks)
        m["exec.spill_bytes"] = sum(t["spill"] for t in exec_tasks)
        skews = []
        for sid in exec_stages:
            durs = [t["dur"] for t in log["tasks"][sid]]
            med = statistics.median(durs)
            if len(durs) > 1 and med > 0:
                skews.append(max(durs) / med)
        m["exec.task_skew"] = statistics.mean(skews) if skews else 1.0
        if m["exec.s"] > 0:
            m["exec.slot_util"] = m["exec.executor_run_s"] / (m["exec.s"] * self.cores)

        # kernels: every stage whose tasks fed a Python worker, whichever
        # layer started it; its rows are the rows the stage read
        pass_groups = {s.group for s in spans if s.group}
        pass_jobs = {j for g in pass_groups for j in jobs_by_group.get(g, [])}
        for sid, jid in log["stage_job"].items():
            ts = log["tasks"].get(sid, [])
            if jid in pass_jobs and any(t["py_sent"] for t in ts):
                m["kernel.python_rows"] += sum(t["rows_in"] for t in ts)
                m["kernel.python_bytes"] += sum(t["py_sent"] + t["py_recv"] for t in ts)
                m["kernel.stage_run_s"] += sum(t["run"] for t in ts)

        prog = self.stream_progress.get(p, [])
        m["stream.run_s"] = sum(e["trigger_ms"] for e in prog) / 1000.0
        m["stream.batches"] = len(prog)
        last: dict[str, dict] = {}
        for e in prog:
            last[e["id"]] = e
        m["stream.state_rows"] = sum(e["state_rows"] for e in last.values())
        m["stream.state_bytes"] = sum(e["state_bytes"] for e in last.values())
        m["stream.state_commit_s"] = sum(e["commit_ms"] for e in prog) / 1000.0
        m["stream.call_s"] = dur("streaming")

        for verb, key in TRIALFRAME_TIMED.items():
            m[key] = sum(s.end - s.start for s in spans if s.layer == "op" and s.name == verb)
        m["trialframe.eager_jobs"] = njobs(
            lambda s: (s.layer == "trialframe" and s.name != "save_clean")
            or (s.layer.startswith("sources") and under(s, "trialframe") and by_id[s.parent].name != "save_clean")
        )
        m["trialframe.plan_depth"] = self.extra.get(p, {}).get("trialframe.plan_depth", 0)

        busy = []
        for job in log["jobs"].values():
            a, b = job["start"], job["end"] or window["end"]
            a, b = max(a, window["start"]), min(b, window["end"])
            if b > a:
                busy.append((a, b))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(busy):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        m["driver.no_job_s"] = (window["end"] - window["start"]) - covered
        return m

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"passes": self.passes, "metrics": metrics, "spans": [asdict(s) for s in self.spans]},
                fh,
            )


def _num(v) -> float:
    if v is None:
        return 0.0
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
