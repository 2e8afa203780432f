"""Both branches of the scan guard in ``functions/spread.py``."""

import re

import pytest

from time_series_data_trimmer_spark.functions.spread import spread_scan


@pytest.mark.parametrize("n_files", ["one", "par"])
def test_spread_scan_guard_branches(spark, tmp_path, n_files):
    par = spark.sparkContext.defaultParallelism
    files = 1 if n_files == "one" else 2 * par
    path = str(tmp_path / "t")
    spark.range(0, 16 * files, 1, numPartitions=files).withColumnRenamed(
        "id", "k"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = spread_scan(df, "k")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    if n_files == "one":
        assert df.rdd.getNumPartitions() == 1
        assert re.search(
            rf"Arguments: hashpartitioning\(k#\d+L?, {par}\), REPARTITION_BY_NUM", plan
        ), plan
    else:
        assert df.rdd.getNumPartitions() >= par
        assert out is df
        assert "Exchange" not in plan
