#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ts_clean --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. One run sets up a Spark session on
``local[<cores>]`` (``SETUPS`` times, each with a fresh JVM) and prepares
its inputs from the seed. It runs one cold pass that collects every
result and checks those results (untimed). With ``--trace 0`` it then
runs one untimed warm-up pass and steady passes for ``--seconds``, and
reports the end-to-end metrics. With ``--trace 1`` it runs untraced,
traced and again untraced passes, each block in a fresh session, and
reports the per-layer metrics of ``perfbench/ledger.py`` (the spans go
to ``.perfbench_work/trace/``). The last line of stdout is one JSON
object. Everything it writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ("__spark_entry__.py", "time_series_data_trimmer_spark/__init__.py", "scripts/check_oracle.py")
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3
#: floor on the steady passes of a run (and of each block of a traced run)
MIN_PASSES = 2
IMPORTS = (
    "import __spark_entry__\n"
    "from time_series_data_trimmer_spark import trialframe\n"
    "from time_series_data_trimmer_spark.session import get_spark\n"
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "live_mem_mb": "MB",
}


def configure(work: str, cores: int) -> None:
    """Environment for the driver, the JVM and the Python workers, set
    before the JVM starts: workers import the package from the checkout
    root; scratch and warehouse stay in the work directory. The event log
    is off here; ``set_event_log`` turns it on for the traced session."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM would otherwise keep a file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    # -UsePerfData: the JVM would otherwise keep a file under /tmp. The
    # heap is left to the program (get_spark's spark.driver.memory).
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    args = ["--driver-java-options", f"'{java_opts}'"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def set_event_log(event_log: str | None) -> None:
    """Turn the event log on (into ``event_log``) or off for the next
    SparkContext of the running JVM: a new SparkConf reads the ``spark.*``
    JVM system properties."""
    from pyspark import SparkContext

    props = SparkContext._jvm.java.lang.System
    if event_log is None:
        props.setProperty("spark.eventLog.enabled", "false")
        return
    os.makedirs(event_log, exist_ok=True)
    for k, v in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_log,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        props.setProperty(k, v)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def jvm_live_mb() -> dict[str, float]:
    """Heap and non-heap in use after a full collection, MB. Python's
    collector runs first, so that frames the driver no longer holds
    release their JVM objects. Spark's ContextCleaner then drops the
    shuffles and broadcasts of collected plans on its own thread, so the
    JVM collects four times, half a second apart, and the least heap in
    use after a collection is reported."""
    import gc

    from pyspark import SparkContext

    gc.collect()
    jvm = SparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    return {"heap": min(heap) / 2**20, "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


class Runner:
    """One workload: set-up, cold pass, steady passes, check."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool, work: str, cores: int, small: bool = False):
        from perfbench import workloads

        self.wl = workloads.make(name, small)
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.work, self.cores = work, cores
        # a traced run does not report setup_s
        self.setups = 1 if small or trace else SETUPS
        self.pass_count = 0
        self.spark = None
        self.ledger = None
        self.attempted = 0
        self.failed = 0
        self.runs: dict[str, int] = {}
        self.errors: list[str] = []

    def setup(self, imports_s: float) -> float:
        """``self.setups`` times: launch a fresh JVM, start the session and
        prepare the inputs. Each sample adds the program's import time
        (imported once: it varies little); ``setup_s`` is the median
        sample."""
        from time_series_data_trimmer_spark.session import get_spark

        times = []
        for _ in range(self.setups):
            if self.spark is not None:
                self.spark.stop()
            shutdown()
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.name}")
            self.wl.prepare(self.spark, os.path.join(self.work, "inputs"), self.seed)
            times.append(imports_s + time.perf_counter() - t0)
        self.setup_samples = times
        return statistics.median(times)

    def run_pass(self, traced: bool, collect: bool = False) -> tuple[float, list[float]]:
        pass_no = self.pass_count
        self.pass_count += 1
        self.wl.before_pass()
        lat: list[float] = []
        led = self.ledger if traced else None
        t_pass = time.perf_counter()
        with led.traced_pass(pass_no) if led else contextlib.nullcontext():
            for idx, op in enumerate(self.wl.ops(collect)):
                self.attempted += 1
                self.runs[op.name] = self.runs.get(op.name, 0) + 1
                t0 = time.perf_counter()
                try:
                    if led:
                        led.run_op(op, idx)
                    else:
                        df = op.build()
                        if op.action:
                            op.action(df)
                except Exception as exc:  # noqa: BLE001 - a failed operation is counted and listed
                    self.failed += 1
                    self.errors.append(f"pass {pass_no} {op.name}: {type(exc).__name__}: {exc}"[:400])
                lat.append(time.perf_counter() - t0)
            wall = time.perf_counter() - t_pass
            if led:
                led.note(self.wl.pass_notes())
        self.wl.after_pass()
        return wall, lat

    def steady(self, budget: float, traced: bool) -> tuple[list[float], list[list[float]]]:
        """Passes until ``budget`` seconds are spent, and at least
        ``MIN_PASSES`` passes. Returns the pass walls and each pass's
        operation latencies."""
        walls: list[float] = []
        lat: list[list[float]] = []
        t0 = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - t0 < budget:
            w, l = self.run_pass(traced)
            walls.append(w)
            lat.append(l)
        return walls, lat

    def restart(self, event_log: str | None) -> None:
        """A new session, with the event log on (``event_log``) or off,
        and one untimed warm-up pass in it."""
        from time_series_data_trimmer_spark.session import get_spark

        self.spark.stop()
        set_event_log(event_log)
        self.spark = get_spark(f"perfbench-{self.name}")
        self.wl.prepare(self.spark, os.path.join(self.work, "inputs"), self.seed)
        self.run_pass(False)

    def traced_passes(self, event_log: str) -> tuple[list[float], list[float], str]:
        """Untraced passes (event log off), traced passes (event log on,
        spans recorded), then untraced passes again, each block in a
        fresh session after one warm-up pass. The untraced blocks on both
        sides cancel the drift of pass times within a run. The traced block
        gets half of ``--seconds``, each untraced block a quarter. Returns
        the untraced and traced pass walls and the traced application id."""
        from perfbench.ledger import Ledger

        self.restart(None)
        plain = self.steady(self.seconds / 4, False)[0]
        self.restart(event_log)
        self.ledger = Ledger(self.spark, self.cores)
        self.ledger.install()
        try:
            traced = self.steady(self.seconds / 2, True)[0]
        finally:
            self.ledger.uninstall()
        app_id = self.spark.sparkContext.applicationId
        self.restart(None)
        plain += self.steady(self.seconds / 4, False)[0]
        return plain, traced, app_id

    def measure(self, imports_s: float, event_log: str | None) -> dict:
        setup_s = self.setup(imports_s)
        cold, _ = self.run_pass(False, collect=True)
        wrong = self.wl.check(ROOT)
        if self.trace:
            plain, traced, app_id = self.traced_passes(event_log)
            self.pass_walls = {"cold": cold, "plain": plain, "traced": traced}
        else:
            # one untimed pass: the pass after the cold one still ran ~30%
            # slower than the rest (JIT and generated-code compilation)
            self.run_pass(False)
            plain, lat = self.steady(self.seconds, False)
            self.pass_walls = {"cold": cold, "plain": plain}
        self.memory = {
            "vm_hwm_mb": {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid())},
            "jvm_live_mb": jvm_live_mb(),
        }
        self.spark.stop()
        # a wrong result counts as failed for every execution of its operation
        for op, found in wrong.items():
            self.failed += self.runs[op]
            self.errors.append(f"wrong result {op}: " + "; ".join(found)[:400])
        if self.trace:
            from perfbench.ledger import PER_LAYER, Ledger

            log = Ledger.read_event_log(event_log, app_id)
            # traced passes (event log on, spans) against the untraced
            # passes of the same run (event log off, no spans)
            overhead = statistics.median(traced) / statistics.median(plain) - 1.0
            metrics = self.ledger.metrics(log, overhead)
            self.ledger.dump(os.path.join(WORK_ROOT, "trace", f"{self.name}-seed{self.seed}.json"), metrics)
            return {k: {"value": metrics[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(plain),
            "cold_pass_s": cold,
            # per pass, then the median over passes: a stall that hits one
            # pass moves neither
            "op_p50_s": statistics.median(statistics.median(p) for p in lat),
            "op_p90_s": statistics.median(percentile(p, 0.9) for p in lat),
            # the driver's Python peak plus what the JVM still holds: the
            # JVM's own peak RSS follows the collector's heap sizing and
            # spread 33% across seeds, so it is printed, not reported
            "live_mem_mb": self.memory["vm_hwm_mb"]["python"] + sum(self.memory["jvm_live_mb"].values()),
        }
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def import_time() -> float:
    """Import the program; run before anything else imports pandas or
    numpy, so that their import is part of it."""
    t0 = time.perf_counter()
    exec(IMPORTS, {})
    return time.perf_counter() - t0


def shutdown() -> None:
    """Stop the JVM gateway and wait for the JVM (and its Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def selftest(cores: int, imports_s: float) -> int:
    """Each workload once, small, traced and untraced: every metric named
    in BENCHMARK.json must be emitted with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
    event_log = os.path.join(work, "eventlog")
    configure(work, cores)
    bad = []
    try:
        for w in spec["workloads"]:
            for trace, wanted in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
                r = Runner(w["name"], 1, 1.0, trace, work, cores, small=True)
                got = r.measure(imports_s, event_log)
                for m in wanted:
                    if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                        bad.append(f"{w['name']} trace={int(trace)}: {m['name']} missing or wrong unit")
                if r.failed:
                    bad.append(f"{w['name']} trace={int(trace)}: {r.errors}")
                print(f"selftest {w['name']} trace={int(trace)}: {len(got)} metrics, {r.failed} failed", flush=True)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for b in bad:
        print("SELFTEST FAIL", b, file=sys.stderr)
    print("SELFTEST", "OK" if not bad else "FAILED")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    imports_s = import_time()
    if args.selftest:
        return selftest(cores, imports_s)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure(work, cores)
    try:
        runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
        metrics = runner.measure(imports_s, event_log)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for e in runner.errors:
        print("FAILED", e)
    print("memory (MB):", json.dumps({k: {n: round(x, 1) for n, x in v.items()} for k, v in runner.memory.items()}))
    print("set-up samples (s):", json.dumps([round(x, 3) for x in runner.setup_samples]))
    print("pass walls (s):", json.dumps({k: [round(x, 3) for x in v] if isinstance(v, list) else round(v, 3) for k, v in runner.pass_walls.items()}))
    print(f"fail_frac {runner.failed / runner.attempted:.6f} ({runner.failed}/{runner.attempted} operations)")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
