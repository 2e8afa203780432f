#!/usr/bin/env python
"""Per-stage profile of one or more registered queries (guide §1/§7).

Runs each named query once to warm the JVM, once measured, with the
Spark event log enabled, then parses the log to report per-stage wall
time, task count, shuffle read/write bytes and records — the local
stand-in for the Spark UI's Stages tab (spark.ui.enabled is false in
the repo session factory).

Usage: python scripts/profile_query.py q1 [q2 ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_data_trimmer_spark.queries import REGISTRY
import time_series_data_trimmer_spark.queries_ext  # noqa: F401
import time_series_data_trimmer_spark.queries_parity  # noqa: F401
import time_series_data_trimmer_spark.queries_compose  # noqa: F401
from time_series_data_trimmer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOG_DIR = "/tmp/spark-events-profile"


def enable_event_log() -> None:
    """Turn the event log on for the session ``get_spark`` builds. The
    settings reach spark-submit before the JVM starts, so the session
    config itself stays in the one factory."""
    os.makedirs(LOG_DIR, exist_ok=True)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": LOG_DIR,
        "spark.eventLog.compress": "false",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    prior = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} {prior}"


def _event_lines(path: str):
    """Yield event-log lines: Spark 4 writes a rolling dir
    (eventlog_v2_<appid>/events_*_<appid>[.zstd]); Spark 3 a flat file."""
    import glob
    import io

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")))
    else:
        parts = [path]
    for part in parts:
        if part.endswith(".zstd"):
            import zstandard

            with open(part, "rb") as raw:
                reader = zstandard.ZstdDecompressor().stream_reader(raw)
                for line in io.TextIOWrapper(reader, encoding="utf-8"):
                    yield line
        else:
            with open(part) as fh:
                yield from fh


def parse_events(path: str, t_mark_ms: float):
    """Stages completed after t_mark_ms, with task/shuffle metrics."""
    stages = []
    jobs = 0
    if True:
        for line in _event_lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) >= t_mark_ms:
                    jobs += 1
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time", 0) < t_mark_ms:
                    continue
                dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:90],
                        "tasks": si["Number of Tasks"],
                        "ms": dur,
                    }
                )
    return jobs, stages


def main() -> None:
    names = sys.argv[1:]
    enable_event_log()
    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    log_path = os.path.join(LOG_DIR, f"eventlog_v2_{app_id}")
    if not os.path.exists(log_path):
        log_path = os.path.join(LOG_DIR, app_id + ".inprogress")
    for name in names:
        if name not in REGISTRY:
            print(f"!! {name}: not in REGISTRY", flush=True)
            continue
        fn, _sql = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm = time.time() - t0
        t_mark_ms = time.time() * 1000.0
        spark.sparkContext.setJobDescription(f"prof:{name}")
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        steady = time.time() - t0
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(0.5)
        jobs, stages = parse_events(log_path, t_mark_ms)
        stages.sort(key=lambda s: -s["ms"])
        total_stage_ms = sum(s["ms"] for s in stages)
        print(
            f"\n=== {name}: warm={warm:.2f}s steady={steady:.2f}s "
            f"jobs={jobs} stages={len(stages)} sum_stage_ms={total_stage_ms}"
        )
        for s in stages[:14]:
            print(
                f"  stage {s['stage']:>4} {s['ms']:>6} ms {s['tasks']:>4} tasks  {s['name']}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
