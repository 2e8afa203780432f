#!/usr/bin/env python
"""Dump .explain("formatted") for registered queries to a directory —
plan capture without timed runs.

Volatile ids are normalized so two dumps of the same code diff empty:
expression ids (``#123``, ``#123L``), ``plan_id=123`` and RDD ids
(``MapPartitionsRDD[123]``) become ``#N`` / ``plan_id=N`` / ``RDD[N]``.

Usage: python scripts/dump_plans.py OUTDIR [q1 q2 ...]
       (no query names: dump every registered query)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_data_trimmer_spark.queries import REGISTRY
import time_series_data_trimmer_spark.queries_ext  # noqa: F401
import time_series_data_trimmer_spark.queries_parity  # noqa: F401
import time_series_data_trimmer_spark.queries_compose  # noqa: F401
from time_series_data_trimmer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_VOLATILE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(RDD\w*)\[\d+\]"), r"\1[N]"),
)


def normalize(plan: str) -> str:
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:] or list(REGISTRY)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in REGISTRY:
            print(f"!! {name}: not in REGISTRY", flush=True)
            continue
        df = REGISTRY[name][0](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(normalize(plan))
        print(f"dumped {name}", flush=True)


if __name__ == "__main__":
    main()
